package graft

import graft.operators.{CorpusPipeline => X, DedupQueries => D,
  IngestParityQueries => IP, MaintenanceQueries, MultimodalOps => M,
  RelationalQueries => R, TextQueries => T, VectorQueries => V}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB oracle in [[oracleSql]] (same
  * column names, deterministic values — see RelationalQueries scaladoc for
  * the determinism rules). Keys map to SURVEY §2 operators:
  *   s1_s2 (hive TSV scan + partition-overwrite sink + landing DDL),
  *   j1/o1 (job machine, workflow), p1/p2 (partition codec, last-hour),
  *   q1-q11 (§2.2 checklist categories: agg, filter/project, joins,
  *   window, top-k, set ops, semi/anti, rollup, scalar fns, distinct,
  *   hourly time bucketing).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    R.q3JoinAgg(spark, "/root/testdata/sf0.001")

  /** True only when the session runs under the DuckDB oracle gate (Verify
    * sets this conf). The semantic-dedup flat-k guard must fire THERE —
    * where a grown fixture would otherwise surface as an inscrutable hash
    * mismatch — but NOT in Bench at sf0.1, whose larger corpus is exactly
    * the k>4 IMI case the guard would reject (the r12 bench regression:
    * d36/st18 failed at sf0.1 because the guard was unconditional).
    */
  private def oracleGate(s: SparkSession): Boolean =
    s.conf.getOption("graft.oracle.gate").contains("true")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_s2_ingest_roundtrip" -> (IP.s1s2IngestRoundtrip _),
    "j1_job_lifecycle" -> (IP.j1JobLifecycle _),
    "o1_workflow" -> (IP.o1Workflow _),
    "p1_partition_codec" -> (R.p1PartitionCodec _),
    "p2_last_hour" -> (R.p2LastHour _),
    "q1_agg" -> (R.q1Agg _),
    "q2_filter_project" -> (R.q2FilterProject _),
    "q3_join_agg" -> (R.q3JoinAgg _),
    "q4_window" -> (R.q4Window _),
    "q5_topk" -> (R.q5TopK _),
    "q6_setops" -> (R.q6SetOps _),
    "q7_semi_anti" -> (R.q7SemiAnti _),
    "q8_rollup" -> (R.q8Rollup _),
    "q9_scalar" -> (R.q9Scalar _),
    "q10_distinct" -> (R.q10Distinct _),
    "q11_hourly_window" -> (R.q11HourlyWindow _),
    "d1_dedup_exact" -> (T.d1DedupExact _),
    "d2_text_stats" -> (T.d2TextStats _),
    "d3_quality_score" -> (T.d3QualityScore _),
    "d4_lang_score" -> (T.d4LangScore _),
    "d5_fingerprint" -> (T.d5Fingerprint _),
    "d6_token_freq" -> (T.d6TokenFreq _),
    "e1_norms" -> (V.e1Norms _),
    "e2_knn_brute" -> ((s, d) => V.e2KnnBrute(s, d)),
    "e3_lsh_buckets" -> ((s, d) => V.e3LshBuckets(s, d)),
    "p1b_hour_bucket" -> (R.p1bHourBucket _),
    "q12_json" -> (R.q12Json _),
    "q13_cube" -> (R.q13Cube _),
    "q14_range_join" -> (R.q14RangeJoin _),
    "q15_asof" -> (R.q15AsOf _),
    "q16_median" -> (R.q16Median _),
    "q17_approx" -> (R.q17Approx _),
    "q18_sessionize" -> (R.q18Sessionize _),
    "d7_minhash_sig" -> (D.d7MinhashSig _),
    "d8_simhash" -> ((s, d) => D.d8Simhash(s, d)),
    "d9_ngram_jaccard" -> (D.d9NgramJaccard _),
    "d10_token_classes" -> (D.d10TokenClasses _),
    "d11_rolling_hash" -> (D.d11RollingHash _),
    "m1_binary_meta" -> (D.m1BinaryMeta _),
    "e4_ivf_assign" -> (D.e4IvfAssign _),
    "d12_minhash_udaf" -> (D.d12MinhashUdaf _),
    "e5_cosine_neardup" -> ((s, d) => D.e5CosineNearDup(s, d)),
    "q19_grouping_sets" -> (R.q19GroupingSets _),
    "e6_ivf_search" -> ((s, d) => D.e6IvfSearch(s, d)),
    "e18_persisted_ivf" -> ((s, d) => V.e18PersistedIvf(s, d)),
    "st17_streaming_index_ingest" -> ((s, d) => V.st17StreamingIndexIngest(s, d)),
    "st24_streaming_split_maintain" ->
      ((s, d) => V.st24StreamingSplitMaintain(s, d)),
    "st20_streaming_ann_serve" -> ((s, d) => V.st20StreamingAnnServe(s, d)),
    "q20_pivot" -> (R.q20Pivot _),
    "q21_unpivot" -> (R.q21Unpivot _),
    "q22_scalar_subquery" -> (R.q22ScalarSubquery _),
    "q23_exists_subquery" -> (R.q23ExistsSubquery _),
    "q24_lateral_explode" -> (R.q24LateralExplode _),
    "q25_setops_all" -> (R.q25SetOpsAll _),
    "q26_stats_agg" -> (R.q26StatsAgg _),
    "q27_window_range" -> (R.q27WindowRange _),
    "d13_lsh_pairs" -> (D.d13LshPairs _),
    "d14_langid_chargram" -> (T.d14LangIdChargram _),
    "m2_media_decode" -> (M.m2MediaDecode _),
    "st1_streaming_hourly" -> (IP.st1StreamingHourly _),
    "e7_ivf_recall" -> ((s, d) => V.e7IvfRecall(s, d)),
    "q28_salted_agg" -> (R.q28SaltedAgg _),
    "q29_star_join" -> (R.q29StarJoin _),
    "d15_corpus_dedup" -> (D.d15CorpusDedup _),
    "q30_asof_native" -> (R.q30AsofNative _),
    "st2_streaming_sessions" -> (IP.st2StreamingSessions _),
    "st12_session_window" -> (IP.st12SessionWindowAgg _),
    "st13_streaming_cdc" -> (IP.st13StreamingCdcApply _),
    "st14_stream_static" -> (IP.st14StreamStaticJoin _),
    "st15_streaming_snapshots" -> (IP.st15StreamingSnapshots _),
    "st3_stream_join" -> (IP.st3StreamJoin _),
    "st4_stream_dedup" -> (IP.st4StreamDedup _),
    "st9_transform_with_state" -> (IP.st9TransformWithState _),
    "st5_sliding_window" -> (IP.st5SlidingWindow _),
    "st7_chained_agg" -> (IP.st7ChainedAgg _),
    "st10_dedup_within_watermark" -> (IP.st10DedupWithinWatermark _),
    "st11_streaming_backfill" -> (IP.st11StreamingBackfill _),
    "st8_state_reader" -> (IP.st8StateReader _),
    "st6_stream_outer_join" -> (IP.st6StreamOuterJoin _),
    "q31_salted_join" -> (R.q31SaltedJoin _),
    "b1_bucketed_join" -> (R.b1BucketedJoin _),
    "m3_frame_sample" -> (M.m3FrameSample _),
    "m4_container_decode" -> (M.m4ContainerDecode _),
    "m5_pcm_window_energy" -> (M.m5PcmWindowEnergy _),
    "m6_pixel_stats" -> (M.m6PixelStats _),
    "m8_resize_stats" -> (M.m8ResizeStats _),
    "m7_png_stats" -> (M.m7PngStats _),
    "m9_jpeg_stats" -> (M.m9JpegBlockStats _),
    "m10_avi_frames" -> (M.m10AviFrameStats _),
    "m11_wav_spectra" -> (M.m11WavSpectra _),
    "m12_radix_fft" -> (M.m12RadixTransform _),
    "d34_bigram_lm" -> (T.d34BigramLm _),
    "d35_segment_rewrite" -> (T.d35SegmentRewrite _),
    "d36_semantic_dedup" ->
      ((s, d) => D.d36SemanticDedup(s, d, requireFlatOracle = oracleGate(s))),
    "d40_semantic_dedup_imi" ->
      ((s, d) => D.d36SemanticDedup(s, d, forceK = Some(16))),
    "x1_corpus_pipeline" ->
      ((s, d) => X.x1CorpusPipeline(s, d, requireFlatOracle = oracleGate(s))),
    "x2_bpe_tokenized_corpus" ->
      ((s, d) => X.x2BpeTokenizedCorpus(s, d, requireFlatOracle = oracleGate(s))),
    "x3_packed_sequences" ->
      ((s, d) => X.x3PackedSequences(s, d, requireFlatOracle = oracleGate(s))),
    "x4_persisted_pack_map" ->
      ((s, d) => X.x4PersistedPackMap(s, d, requireFlatOracle = oracleGate(s))),
    "st19_streaming_corpus_build" ->
      ((s, d) => X.st19StreamingCorpusBuild(s, d, requireFlatOracle = oracleGate(s))),
    "d41_imi_cobin_recall" -> (V.d41ImiCobinRecall(_, _)),
    "st18_streaming_semantic_dedup" ->
      ((s, d) => D.st18StreamingSemanticDedup(s, d, requireFlatOracle = oracleGate(s))),
    "s4_quarantine" -> (IP.s4QuarantineIngest _),
    "st16_streaming_quarantine" -> (IP.st16StreamingQuarantine _),
    "d16_char_entropy" -> (T.d16CharEntropy _),
    "d17_shingle_udtf" -> (T.d17ShingleUdtf _),
    "e8_lsh_projections" -> ((s, d) => V.e8LshProjections(s, d)),
    "e10_sq_knn" -> ((s, d) => V.e10SqKnn(s, d)),
    "e11_pq_adc" -> ((s, d) => V.e11PqAdc(s, d)),
    "e14_ivf_pq" -> ((s, d) => V.e14IvfPq(s, d)),
    "e15_kmeans" -> ((s, d) => V.e15Kmeans(s, d)),
    "e24_trained_pq" -> ((s, d) => V.e24TrainedPq(s, d)),
    "e25_trained_pq_search" -> ((s, d) => V.e25TrainedPqSearch(s, d)),
    "e26_trained_ivfpq_full" -> ((s, d) => V.e26TrainedIvfPqFull(s, d)),
    "e32_persisted_ivfpq" -> ((s, d) => V.e32PersistedIvfPq(s, d)),
    "e33_filtered_pq_serve" -> ((s, d) => V.e33FilteredPqServe(s, d)),
    "e34_filtered_serve_range" -> ((s, d) => V.e34FilteredServeRange(s, d)),
    "e35_bin_split_maintain" -> ((s, d) => V.e35BinSplitMaintain(s, d)),
    "e36_split_lifecycle" -> ((s, d) => V.e36SplitLifecycle(s, d)),
    "e37_retrain_swap" -> ((s, d) => V.e37RetrainSwap(s, d)),
    "e38_retrain_swap_compressed" ->
      ((s, d) => V.e38RetrainSwapCompressed(s, d)),
    "st25_streaming_split_takedown" ->
      ((s, d) => V.st25StreamingSplitTakedown(s, d)),
    "st26_streaming_generation_swap" ->
      ((s, d) => V.st26StreamingGenerationSwap(s, d)),
    "st27_swap_under_split_maintain" ->
      ((s, d) => V.st27SwapUnderMaintenance(s, d)),
    "st28_streaming_pq_generation_swap" ->
      ((s, d) => V.st28StreamingPqGenerationSwap(s, d)),
    "st23_streaming_filtered_serve" ->
      ((s, d) => V.st23StreamingFilteredServe(s, d)),
    "st21_streaming_pq_ingest" -> ((s, d) => V.st21StreamingPqIngest(s, d)),
    "st22_streaming_pq_serve" -> ((s, d) => V.st22StreamingPqServe(s, d)),
    "e27_pq_k64" -> ((s, d) => V.e27PqK64(s, d)),
    "e31_pq_k256" -> ((s, d) => V.e31PqK256(s, d)),
    "e28_trained_nprobe" -> ((s, d) => V.e28TrainedNprobe(s, d)),
    "e29_trained_nprobe_recall" -> ((s, d) => V.e29TrainedNprobeRecall(s, d)),
    "e30_trained_refine" -> ((s, d) => V.e30TrainedRefine(s, d)),
    "e16_nprobe" -> ((s, d) => D.e16NprobeRecall(s, d)),
    "e17_trained_ivfpq" -> ((s, d) => V.e17TrainedIvfPq(s, d)),
    "e19_filtered_ivf" -> ((s, d) => V.e19FilteredIvf(s, d)),
    "e20_ivf_append" -> ((s, d) => V.e20IvfAppend(s, d)),
    "e21_ivf_delete" -> ((s, d) => V.e21IvfDelete(s, d)),
    "e22_filtered_recall" -> ((s, d) => V.e22FilteredRecall(s, d)),
    "e23_ivf_compact" -> ((s, d) => V.e23IvfCompact(s, d)),
    "d31_containment" -> ((s, d) => D.d31Containment(s, d)),
    "e12_quant_recall" -> ((s, d) => V.e12QuantRecall(s, d)),
    "e13_pq_refine" -> ((s, d) => V.e13PqRefine(s, d)),
    "d18_hash_sample" -> (T.d18HashSample _),
    "d19_cluster_dedup" -> ((s, d) => D.d19ClusterDedup(s, d)),
    "d20_cluster_clean" -> ((s, d) => D.d20ClusterClean(s, d)),
    "d29_cluster_keep_best" -> ((s, d) => D.d29ClusterKeepBest(s, d)),
    "d21_repetition" -> ((s, d) => T.d21Repetition(s, d)),
    "e9_text_vector_join" -> (V.e9TextVectorJoin _),
    "q32_window_suite" -> (R.q32WindowSuite _),
    "q33_multi_distinct" -> (R.q33MultiDistinct _),
    "q34_not_in" -> (R.q34NotIn _),
    "q35_outer_join" -> (R.q35OuterJoin _),
    "q36_ewma" -> (R.q36Ewma _),
    "q37_zorder" -> (R.q37Zorder _),
    "q38_bloom_join" -> (R.q38BloomJoin _),
    "q39_tpch_deep" -> (R.q39TpchDeep _),
    "u1_merge_upsert" -> (MaintenanceQueries.u1MergeUpsert _),
    "u2_delete_keys" -> (MaintenanceQueries.u2DeleteKeys _),
    "u3_schema_drift" -> (MaintenanceQueries.u3SchemaDrift _),
    "c1_compact" -> (MaintenanceQueries.c1Compact _),
    "c2_manifest_skip" -> (MaintenanceQueries.c2ManifestSkip _),
    "c5_cluster_box_skip" -> (MaintenanceQueries.c5ClusterBoxSkip _),
    "c6_cluster_maintain" -> (MaintenanceQueries.c6ClusterMaintain _),
    "s3_sql_catalog" -> (MaintenanceQueries.s3SqlCatalog _),
    "u4_snapshot_diff" -> (MaintenanceQueries.u4SnapshotDiff _),
    "u5_scd2" -> (MaintenanceQueries.u5Scd2 _),
    "u6_scd2_merge" -> (MaintenanceQueries.u6Scd2Merge _),
    "c3_compact_sweep" -> (MaintenanceQueries.c3CompactSweep _),
    "c4_retention" -> (MaintenanceQueries.c4Retention _),
    "u7_time_travel" -> (MaintenanceQueries.u7TimeTravel _),
    "u8_cascading_takedown" -> (MaintenanceQueries.u8CascadingTakedown _),
    "q40_hof" -> (R.q40Hof _),
    "q47_map_ops" -> (R.q47MapOps _),
    "q48_lateral_topn" -> (R.q48LateralTopn _),
    "q49_null_safe_join" -> (R.q49NullSafeJoin _),
    "d30_canonical_dedup" -> (T.d30CanonicalDedup _),
    "d37_incremental_dedup" -> (T.d37IncrementalDedup _),
    "d38_bpe_merges" -> ((s, d) => T.d38BpeMerges(s, d)),
    "d39_bpe_tokenize" -> ((s, d) => T.d39BpeTokenize(s, d)),
    "d32_source_overlap" -> (T.d32SourceOverlap _),
    "d33_split_assign" -> (T.d33SplitAssign _),
    "q41_datetime" -> (R.q41Datetime _),
    "q42_percentile" -> (R.q42Percentile _),
    "q43_variant" -> (R.q43Variant _),
    "q46_variant_shredded" -> (R.q46VariantShredded _),
    "q44_recursive_cte" -> (R.q44RecursiveCte _),
    "q45_listagg" -> (R.q45Listagg _),
    "q50_gap_fill" -> (R.q50GapFill _),
    "d22_segment_dedup" -> (T.d22SegmentDedup _),
    "d23_packing" -> (T.d23Packing _),
    "d24_pii_redact" -> (T.d24PiiRedact _),
    "d25_decontaminate" -> (T.d25Decontaminate _),
    "d26_domain_mix" -> (T.d26DomainMix _),
    "d27_quality_classifier" -> (T.d27QualityClassifier _),
    "d28_tfidf" -> ((s, d) => T.d28Tfidf(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "s1_s2_ingest_roundtrip" ->
      """SELECT date_trunc('hour', ts) AS hour_ts,
        | count(*) AS cnt,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
        | CAST(sum(length(props)) AS BIGINT) AS props_len
        |FROM events GROUP BY date_trunc('hour', ts)""".stripMargin,
    "j1_job_lifecycle" ->
      """SELECT 'SUCCESS' AS state, 2 AS state_code, count(*) AS rows_loaded
        |FROM events
        |WHERE date_trunc('hour', ts) = (SELECT min(date_trunc('hour', ts)) FROM events)""".stripMargin,
    "o1_workflow" ->
      ("SELECT 'existing_hour' AS run, 2 AS status_code " +
        "UNION ALL SELECT 'absent_hour', 0"),
    "p1_partition_codec" ->
      """SELECT event_id,
        | strftime(ts, '%Y%m%d%H') AS bq_id,
        | 'year=' || strftime(ts, '%Y') || '/month=' || strftime(ts, '%m') ||
        | '/day=' || strftime(ts, '%d') || '/hour=' || strftime(ts, '%H') AS hive_path
        |FROM events""".stripMargin,
    "p2_last_hour" ->
      """SELECT event_id,
        | strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y%m%d%H') AS prev_hour_id
        |FROM events""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_discount > 0.08 AND l_quantity < 5.0""".stripMargin,
    "q3_join_agg" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        | count(*) AS line_cnt
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "q5_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q6_setops" ->
      """SELECT 'except' AS op, c_custkey FROM (
        | SELECT c_custkey FROM customer WHERE c_acctbal > 0
        | EXCEPT
        | SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F') e
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM (
        | SELECT c_custkey FROM customer WHERE c_acctbal > 0
        | INTERSECT
        | SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F') i""".stripMargin,
    "q7_semi_anti" ->
      """SELECT 'has_orders' AS op, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS op, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q8_rollup" ->
      """SELECT n_name, c_mktsegment, count(*) AS cnt,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)""".stripMargin,
    "q9_scalar" ->
      """SELECT p_partkey,
        | upper(p_brand) AS brand_u,
        | substr(p_name, 1, 5) AS name5,
        | length(p_type) AS type_len,
        | p_size % 7 AS size_mod,
        | abs(p_retailprice - 1000.0) AS price_dist,
        | p_brand || '|' || p_type AS brand_type
        |FROM part""".stripMargin,
    "q10_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS uniq_cust,
        | count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q11_hourly_window" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | count(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY date_trunc('hour', ts)""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        | count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "d2_text_stats" ->
      """SELECT doc_id, length(text) AS len,
        | len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        | length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct_cnt,
        | length(regexp_replace(text, '[^aeiou]', '', 'g')) AS vowel_cnt,
        | CAST(length(text) AS DOUBLE) /
        |   len(string_split_regex(trim(text), '\s+')) AS chars_per_token
        |FROM documents""".stripMargin,
    "d3_quality_score" ->
      """SELECT doc_id,
        | (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1 ELSE 0 END +
        |  CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 10 THEN 1 ELSE 0 END +
        |  CASE WHEN len(regexp_extract_all(text, '\bthe\b')) > 0 THEN 1 ELSE 0 END)
        |   AS quality_score,
        | len(regexp_extract_all(text, '\bthe\b')) AS stop_the_cnt
        |FROM documents""".stripMargin,
    "d4_lang_score" ->
      """SELECT doc_id, lang,
        | len(regexp_extract_all(lower(text), '\b(the|and|of)\b')) AS score_stop,
        | len(regexp_extract_all(lower(text), '\b(fast|slow|small)\b')) AS score_adj,
        | len(regexp_extract_all(lower(text), '\b(data|table|row)\b')) AS score_data,
        | CASE
        |  WHEN len(regexp_extract_all(lower(text), '\b(the|and|of)\b')) >=
        |       len(regexp_extract_all(lower(text), '\b(fast|slow|small)\b'))
        |   AND len(regexp_extract_all(lower(text), '\b(the|and|of)\b')) >=
        |       len(regexp_extract_all(lower(text), '\b(data|table|row)\b'))
        |   THEN 'stopword'
        |  WHEN len(regexp_extract_all(lower(text), '\b(fast|slow|small)\b')) >=
        |       len(regexp_extract_all(lower(text), '\b(data|table|row)\b'))
        |   THEN 'adjective'
        |  ELSE 'dataword' END AS profile
        |FROM documents""".stripMargin,
    "d5_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' '))
        |   AS bow_fingerprint
        |FROM documents""".stripMargin,
    "d6_token_freq" ->
      """SELECT token, count(*) AS cnt FROM (
        | SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        | FROM documents) t
        |GROUP BY token HAVING count(*) >= 10""".stripMargin,
    "e1_norms" ->
      """SELECT vec_id, label, len(embedding) AS dim,
        | sqrt(list_aggregate(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS l2_norm,
        | list_aggregate(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE)), 'sum') / len(embedding) AS mean_val
        |FROM embeddings""".stripMargin,
    "e2_knn_brute" ->
      """WITH dots AS (
        | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  CAST(
        |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
        |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
        |   (sqrt(list_aggregate(list_transform(q.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
        |    sqrt(list_aggregate(list_transform(n.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
        |  AS DECIMAL(20,6)) AS sim_dec
        | FROM embeddings q, embeddings n
        | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, sim_dec,
        |  row_number() OVER (PARTITION BY query_id
        |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
        | FROM dots)
        |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS cos_sim
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "e3_lsh_buckets" -> e3OracleSql,
    "p1b_hour_bucket" ->
      """SELECT event_id,
        | CAST(strftime(ts, '%Y%m%d%H') AS BIGINT) AS bucket_id
        |FROM events""".stripMargin,
    "q12_json" ->
      """SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10) AS k_mod,
        | count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY (CAST(json_extract_string(props, '$.k') AS BIGINT) % 10)""".stripMargin,
    "q43_variant" ->
      """SELECT event_type AS et, 'fixed' AS tag1, count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |   AS sum_k,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY event_type""".stripMargin,
    // q46: same semantic contract as q43 (the shredded table is derived from
    // the same document assembly) — equality proves the shred/write/pruned-
    // read chain loses nothing vs the direct variant_get path
    "q46_variant_shredded" ->
      """SELECT event_type AS et, 'fixed' AS tag1, count(*) AS cnt,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |   AS sum_k,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY event_type""".stripMargin,
    "q44_recursive_cte" ->
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, t.root, t.depth + 1
        |  FROM customer c JOIN tree t
        |    ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = t.node
        |  WHERE c.c_custkey >= 10)
        |SELECT root, count(*) AS n_nodes, max(depth) AS max_depth,
        |       CAST(sum(node) AS BIGINT) AS sum_keys
        |FROM tree GROUP BY root""".stripMargin,
    "q45_listagg" ->
      """SELECT r_name,
        | string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    // q50: IGNORE NULLS carry-forward — the window order is total
    // (line numbers DUPLICATE within an order in this synthetic lineitem,
    // so l_quantity tiebreaks; residual ties carry equal values); rows
    // before an order's first kept line fill as NULL in both engines
    "q50_gap_fill" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_linenumber % 3 = 1 THEN l_quantity END AS sparse_qty,
        | last_value(CASE WHEN l_linenumber % 3 = 1 THEN l_quantity END
        |            IGNORE NULLS)
        |  OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS filled_qty
        |FROM lineitem""".stripMargin,
    "q13_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q14_range_join" ->
      """WITH bands(band, lo, hi) AS (
        | VALUES ('low', 0.0, 50.0), ('mid', 50.0, 120.0), ('high', 120.0, 1e9))
        |SELECT band, count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin,
    "q15_asof" ->
      """SELECT event_id, user_id, ts,
        | lag(event_id, 1) OVER w AS prev_event_id,
        | lag(ts, 1) OVER w AS prev_ts,
        | CASE WHEN lag(ts, 1) OVER w IS NOT NULL
        |  THEN CAST(floor(epoch(ts)) AS BIGINT) -
        |       CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) END AS gap_sec
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    "q16_median" ->
      """WITH ranked AS (
        | SELECT o_orderstatus, o_totalprice, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |                     ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        |  count(*) OVER (PARTITION BY o_orderstatus) AS n
        | FROM orders)
        |SELECT o_orderstatus, o_totalprice AS median_price
        |FROM ranked WHERE rn = (n + 1) // 2""".stripMargin,
    "q18_sessionize" ->
      """WITH g AS (
        | SELECT event_id, user_id, ts,
        |  lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        | FROM events),
        |b AS (
        | SELECT *, CASE WHEN prev_ts IS NULL OR
        |   CAST(floor(epoch(ts)) AS BIGINT) -
        |   CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |  THEN 1 ELSE 0 END AS is_break FROM g),
        |s AS (
        | SELECT user_id, ts,
        |  CAST(sum(is_break) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |   AS session_seq
        | FROM b)
        |SELECT user_id, session_seq, count(*) AS n_events,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    // q17_approx: sketch VALUES are implementation-defined, so the oracle
    // checks the acceptance predicate instead — exact counts recomputed in
    // duckdb, sketch-in-bounds booleans expected TRUE (see q17Approx doc).
    "q17_approx" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS users_ok, TRUE AS median_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "d7_minhash_sig" -> d7OracleSql,
    "d8_simhash" -> d8OracleSql,
    "d12_minhash_udaf" -> d12OracleSql,
    "e5_cosine_neardup" -> e5OracleSql,
    "q22_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        | (SELECT max(l_quantity) FROM lineitem
        |  WHERE l_orderkey = o_orderkey) AS max_line_qty
        |FROM orders""".stripMargin,
    "q20_pivot" ->
      """SELECT (user_id % 100) AS user_mod,
        | CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        | CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY (user_id % 100)""".stripMargin,
    "q21_unpivot" ->
      """SELECT p_partkey, attr, val FROM (
        | SELECT p_partkey, 'size' AS attr, CAST(p_size AS BIGINT) AS val FROM part
        | UNION ALL
        | SELECT p_partkey, 'name_len', CAST(length(p_name) AS BIGINT) FROM part
        | UNION ALL
        | SELECT p_partkey, 'type_len', CAST(length(p_type) AS BIGINT) FROM part) t""".stripMargin,
    "q19_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        | CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        | count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |                        (o_orderstatus, o_orderpriority))""".stripMargin,
    "e6_ivf_search" ->
      """WITH cents AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb
        | FROM embeddings WHERE vec_id < 4),
        |asg0 AS (
        | SELECT e.vec_id, e.embedding, c.centroid_id,
        |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
        |   AS DECIMAL(20,6)) AS a_sim
        | FROM embeddings e, cents c),
        |asg AS (
        | SELECT vec_id, embedding, centroid_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY a_sim DESC, centroid_id ASC) AS a_rk FROM asg0) t
        | WHERE a_rk = 1),
        |q AS (
        | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
        | FROM asg WHERE vec_id < 10),
        |cand AS (
        | SELECT q.query_id, a.vec_id AS neighbor_id,
        |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
        |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
        |   AS DECIMAL(20,6)) AS sim_dec
        | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
        |  AND a.vec_id <> q.query_id),
        |r AS (
        | SELECT query_id, neighbor_id, sim_dec,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM cand)
        |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS ivf_sim
        |FROM r WHERE rank <= 3""".stripMargin,
    // e18: e6's restatement VERBATIM — the persisted, partition-pruned
    // index path must return exactly what the in-memory probe search does
    "e18_persisted_ivf" -> e18OracleSql,
    // the stream-built index must serve IDENTICALLY to the one-shot build:
    // e18's full-corpus restatement, verbatim, is the equivalence oracle
    "st17_streaming_index_ingest" -> e18OracleSql,
    // st24: stream-built ∪ batch-keyed appends with in-loop bin splits —
    // children partition parents, so ingest+maintenance must answer e18's
    // full-corpus search verbatim; n_commits pins exactly-once appends
    // (split/compaction commits are maintenance, counted by KEY prefix)
    "st24_streaming_split_maintain" ->
      ivfServeOracleSql("vec_id < 10", ", 4 AS n_commits"),
    "st20_streaming_ann_serve" -> st20OracleSql,
    // e20: THE SAME SQL as e18 — coarse assignment is per-vector, so the
    // base-build ∪ appended-batch index must serve exactly what a full
    // rebuild serves; reusing the oracle text IS the append≡rebuild claim
    "e20_ivf_append" -> e18OracleSql,
    // e23: e18's SQL a third time — compaction must be invisible to results
    "e23_ivf_compact" -> e18OracleSql,
    "e21_ivf_delete" -> e21OracleSql,
    "e22_filtered_recall" -> e22OracleSql,
    "d31_containment" -> d31OracleSql,
    "d9_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
        |   THEN list_distinct(list_transform(
        |     range(1, len(string_split_regex(trim(text), '\s+')) - 1),
        |     i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
        |                                     i, i + 2), ' ')))
        |   ELSE [text] END AS s
        | FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(CAST(
        |   CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE) /
        |   (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))))
        |  AS DECIMAL(10,6)) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "d10_token_classes" ->
      """SELECT doc_id,
        | len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
        | len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
        | len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct
        |FROM documents""".stripMargin,
    "d11_rolling_hash" ->
      """SELECT doc_id,
        | list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |   (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash
        |FROM documents""".stripMargin,
    "m1_binary_meta" ->
      """SELECT doc_id,
        | octet_length(encode(text)) AS n_bytes,
        | substr(hex(encode(text)), 1, 16) AS header_hex,
        | md5(text) AS content_hash
        |FROM documents""".stripMargin,
    "e4_ivf_assign" ->
      """WITH cents AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb
        | FROM embeddings WHERE vec_id < 4),
        |sims AS (
        | SELECT e.vec_id, c.centroid_id,
        |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
        |   AS DECIMAL(20,6)) AS sim_dec
        | FROM embeddings e, cents c),
        |ranked AS (
        | SELECT vec_id, centroid_id, sim_dec,
        |  row_number() OVER (PARTITION BY vec_id
        |                     ORDER BY sim_dec DESC, centroid_id ASC) AS rk
        | FROM sims)
        |SELECT vec_id, centroid_id, CAST(sim_dec AS DOUBLE) AS centroid_sim
        |FROM ranked WHERE rk = 1""".stripMargin,
    "q23_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'F' AND o_totalprice < 5000)""".stripMargin,
    "q24_lateral_explode" ->
      """SELECT pos, word, count(*) AS cnt, min(p_partkey) AS first_key FROM (
        | SELECT p_partkey,
        |        unnest(range(0, len(string_split(p_type, ' ')))) AS pos,
        |        unnest(string_split(p_type, ' ')) AS word
        | FROM part) t
        |GROUP BY pos, word""".stripMargin,
    "q25_setops_all" ->
      """WITH l AS (SELECT l_suppkey % 50 AS k FROM lineitem),
        |     o AS (SELECT o_custkey % 50 AS k FROM orders),
        |     ic AS (SELECT k, count(*) AS n_intersect FROM
        |              (SELECT k FROM l INTERSECT ALL SELECT k FROM o) GROUP BY k),
        |     ec AS (SELECT k, count(*) AS n_except FROM
        |              (SELECT k FROM l EXCEPT ALL SELECT k FROM o) GROUP BY k)
        |SELECT COALESCE(ic.k, ec.k) AS k,
        |       COALESCE(n_intersect, 0) AS n_intersect,
        |       COALESCE(n_except, 0) AS n_except
        |FROM ic FULL OUTER JOIN ec ON ic.k = ec.k""".stripMargin,
    "q26_stats_agg" ->
      """WITH s AS (
        | SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_discount * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS syy,
        |  CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        | (sxx - sx * sx / n) / n AS var_pop_qty,
        | (sxy - sx * sy / n) /
        |   (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_disc
        |FROM s""".stripMargin,
    "q27_window_range" ->
      """SELECT o_orderkey, o_custkey,
        | count(*) OVER w AS n_30d,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER w AS DOUBLE) AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "d13_lsh_pairs" -> d13OracleSql,
    "d19_cluster_dedup" -> d19OracleSql,
    "d20_cluster_clean" -> d20OracleSql,
    "d29_cluster_keep_best" -> d29OracleSql,
    "q35_outer_join" ->
      """WITH pc AS (
        | SELECT o_custkey, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(20,2))) AS spend_dec
        | FROM orders GROUP BY o_custkey)
        |SELECT c.c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CASE WHEN pc.n_orders IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS no_order_customers,
        | CAST(sum(COALESCE(pc.n_orders, 0)) AS BIGINT) AS total_orders,
        | CAST(sum(COALESCE(pc.spend_dec, 0)) AS DOUBLE) AS total_spend
        |FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin,
    "q37_zorder" -> q37OracleSql,
    "st4_stream_dedup" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_unique_users,
        | CAST(sum(user_id) AS BIGINT) AS sum_user_ids
        |FROM (SELECT DISTINCT user_id, event_type FROM events
        |      WHERE day(ts) < 10)
        |GROUP BY event_type""".stripMargin,
    // st10: delay (25h) > the day=01 span, so under ANY micro-batch split no
    // row can be late-dropped and no dedup state can evict mid-replay — the
    // bounded-state operator provably emits the global distinct (see
    // st10DedupWithinWatermark scaladoc)
    "st10_dedup_within_watermark" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_unique_users,
        | CAST(sum(user_id) AS BIGINT) AS sum_user_ids
        |FROM (SELECT DISTINCT user_id, event_type FROM events
        |      WHERE day(ts) = 1)
        |GROUP BY event_type""".stripMargin,
    // st11: the backfill contract stated directly — after repairing the
    // crippled hour, the landing table IS the original day=01 slice
    "st11_streaming_backfill" ->
      """SELECT date_trunc('hour', ts) AS hour_ts,
        | count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE day(ts) = 1
        |GROUP BY date_trunc('hour', ts)""".stripMargin,
    "q36_ewma" ->
      """SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
        | CAST(CAST(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3)
        |   AS DECIMAL(20,6)) AS DOUBLE) AS ewma
        |FROM (
        | SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
        | FROM events GROUP BY user_id)""".stripMargin,
    "st3_stream_join" ->
      """SELECT v.user_id AS user_id, count(*) AS n_pairs,
        | CAST(sum(v.event_id) AS BIGINT) AS sum_v_id,
        | CAST(sum(p.event_id) AS BIGINT) AS sum_p_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND day(v.ts) = 1 AND day(p.ts) = 1
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |GROUP BY v.user_id""".stripMargin,
    "st6_stream_outer_join" ->
      """WITH v AS (
        | SELECT user_id AS vu, ts AS vts, event_id AS vid FROM events
        | WHERE event_type = 'view' AND day(ts) = 1),
        |p AS (
        | SELECT user_id AS pu, ts AS pts, event_id AS pid FROM events
        | WHERE event_type = 'purchase' AND day(ts) = 1),
        |wm AS (
        | SELECT least((SELECT max(epoch_us(vts)) FROM v),
        |              (SELECT max(epoch_us(pts)) FROM p)) // 1000
        |        - 2400000 AS w_ms),
        |matched AS (
        | SELECT vu AS user_id, vid, pid FROM v JOIN p
        | ON vu = pu AND pts >= vts AND pts <= vts + INTERVAL 30 MINUTE),
        |unmatched AS (
        | SELECT vu AS user_id, vid, CAST(NULL AS BIGINT) AS pid FROM v
        | WHERE NOT EXISTS (SELECT 1 FROM p
        |   WHERE pu = vu AND pts >= vts AND pts <= vts + INTERVAL 30 MINUTE)
        |  AND (epoch_us(vts) + 1800000000) // 1000 < (SELECT w_ms FROM wm)),
        |allr AS (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
        |SELECT user_id, count(*) AS n_rows,
        | CAST(count(pid) AS BIGINT) AS n_matched,
        | CAST(sum(vid) AS BIGINT) AS sum_v_id,
        | CAST(sum(pid) AS BIGINT) AS sum_p_id
        |FROM allr GROUP BY user_id""".stripMargin,
    "d21_repetition" ->
      """WITH base AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |docs AS (
        | SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
        |       AS DECIMAL(10,6)) AS dr,
        |  CASE WHEN len(t) >= 2
        |   THEN list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))
        |   ELSE CAST([] AS VARCHAR[]) END AS bg
        | FROM base),
        |ex AS (SELECT doc_id, unnest(bg) AS bg FROM docs),
        |cnt AS (SELECT doc_id, bg, count(*) AS c FROM ex GROUP BY doc_id, bg),
        |top AS (
        | SELECT doc_id, CAST(CAST(max(c) AS DOUBLE) / sum(c)
        |        AS DECIMAL(10,6)) AS tf
        | FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, d.n_tokens, CAST(d.dr AS DOUBLE) AS distinct_ratio,
        | CAST(COALESCE(t.tf, 0) AS DOUBLE) AS top_bigram_frac,
        | (d.n_tokens >= 5 AND d.dr >= 0.3 AND COALESCE(t.tf, 0) <= 0.2) AS keep
        |FROM docs d LEFT JOIN top t ON t.doc_id = d.doc_id""".stripMargin,
    "d14_langid_chargram" -> {
      def occ(p: String) =
        s"CAST((length(lower(text)) - length(replace(lower(text), '$p', ''))) / 3 AS BIGINT)"
      def prof(ps: Seq[String]) = ps.map(occ).mkString("(", " + ", ")")
      val en = prof(Seq("the", "and", "ing"))
      val dt = prof(Seq("dat", "tab", "row"))
      val aj = prof(Seq("fas", "slo", "sma"))
      s"""SELECT doc_id, lang,
         | $en AS tri_en, $dt AS tri_data, $aj AS tri_adj,
         | CASE WHEN $en >= $dt AND $en >= $aj THEN 'english'
         |      WHEN $dt >= $aj THEN 'dataish'
         |      ELSE 'adjish' END AS tri_profile
         |FROM documents""".stripMargin
    },
    "m2_media_decode" ->
      """SELECT doc_id, n_bytes, format, width, height, channels,
        | CAST(CASE WHEN greatest(width, height) > 256
        |  THEN greatest(1, floor(width * 256 / greatest(width, height)))
        |  ELSE width END AS INT) AS resize_w,
        | CAST(CASE WHEN greatest(width, height) > 256
        |  THEN greatest(1, floor(height * 256 / greatest(width, height)))
        |  ELSE height END AS INT) AS resize_h
        |FROM (
        |SELECT doc_id,
        | CAST(n AS INT) AS n_bytes,
        | CASE WHEN n % 2 = 0 THEN 'img/fake-a' ELSE 'img/fake-b' END AS format,
        | CAST(16 + (b0 % 64) * 16 AS INT) AS width,
        | CAST(16 + (b1 % 64) * 16 AS INT) AS height,
        | CAST(1 + (n % 3) AS INT) AS channels
        |FROM (
        | SELECT doc_id, octet_length(encode(text)) AS n,
        |  CASE WHEN octet_length(encode(text)) > 0
        |   THEN CAST('0x' || substr(hex(encode(text)), 1, 2) AS INT) ELSE 0 END AS b0,
        |  CASE WHEN octet_length(encode(text)) > 1
        |   THEN CAST('0x' || substr(hex(encode(text)), 3, 2) AS INT) ELSE 0 END AS b1
        | FROM documents) t) f""".stripMargin,
    "m3_frame_sample" ->
      """WITH base AS (
        | SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx,
        |        greatest(octet_length(encode(text)) // 4, 1) AS stride
        | FROM documents),
        |frames AS (
        | SELECT doc_id, n, hx, stride, unnest(range(0, 4)) AS fi
        | FROM base),
        |cut AS (
        | SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |        CAST(fi * stride AS INT) AS frame_off,
        |        LEAST(8, n - fi * stride) AS flen,
        |        substr(hx, CAST(fi * stride * 2 + 1 AS BIGINT),
        |               CAST(LEAST(8, n - fi * stride) * 2 AS BIGINT)) AS frame_hex
        | FROM frames WHERE fi * stride < n)
        |SELECT doc_id, frame_idx, frame_off, frame_hex,
        | CAST(list_aggregate(list_transform(range(0, flen),
        |   j -> CAST('0x' || substr(frame_hex, CAST(2*j+1 AS BIGINT), 2) AS BIGINT)
        |        * (j + 1)), 'sum') AS BIGINT) AS checksum
        |FROM cut""".stripMargin,
    "m4_container_decode" ->
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 58
        |  ELSE 44 + (doc_id % 4) +
        |   CASE WHEN (doc_id // 4) % 2 = 1 THEN 14 ELSE 0 END END AS INT) AS n_bytes,
        | CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS format,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 97
        |  ELSE 8000 + (doc_id % 8) * 1000 END AS INT) AS width,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id * 7) % 61
        |  ELSE 8 * (1 + (doc_id // 3) % 3) END AS INT) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 3
        |  ELSE 1 + (doc_id // 2) % 2 END AS INT) AS channels
        |FROM documents""".stripMargin,
    // restates MultimodalOps.syntheticPcmWav's generative formula over the
    // same 8-sample windows — the engine side decoded the samples from the
    // assembled WAV BYTES, so equality pins the chunk walk + LE signed reads
    "m5_pcm_window_energy" ->
      """WITH params AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        |samples AS (
        | SELECT doc_id, i, ((doc_id * 31 + i * 7919) % 65536) - 32768 AS s
        | FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM params) t)
        |SELECT doc_id, CAST(i // 8 AS INT) AS window_idx,
        | count(*) AS n_in_window,
        | CAST(sum(s * s) AS BIGINT) AS sum_sq,
        | CAST(max(abs(s)) AS BIGINT) AS peak
        |FROM samples GROUP BY doc_id, i // 8""".stripMargin,
    // m11: the generative PCM formula pushed through the even-bin 8-point
    // DFT coefficient pattern (k∈{0,2,4} ⇒ twiddles in {-1,0,1}: pure
    // int64). Window position is i mod 8, so i%4 / i%2 ARE the in-window
    // phases; the engine recovered the samples from the WAV bytes
    "m11_wav_spectra" ->
      """WITH params AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        |samples AS (
        | SELECT doc_id, i, ((doc_id * 31 + i * 7919) % 65536) - 32768 AS s
        | FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM params) t),
        |sums AS (
        | SELECT doc_id, CAST(i // 8 AS INT) AS window_idx,
        |  count(*) AS n_in_window,
        |  sum(s) AS re0,
        |  sum(CASE WHEN i % 4 = 0 THEN s WHEN i % 4 = 2 THEN -s
        |      ELSE 0 END) AS re2,
        |  sum(CASE WHEN i % 4 = 1 THEN s WHEN i % 4 = 3 THEN -s
        |      ELSE 0 END) AS im2,
        |  sum(CASE WHEN i % 2 = 0 THEN s ELSE -s END) AS re4
        | FROM samples GROUP BY doc_id, i // 8)
        |SELECT doc_id, window_idx, n_in_window,
        | CAST(re0 * re0 AS BIGINT) AS mag2_dc,
        | CAST(re2 * re2 + im2 * im2 AS BIGINT) AS mag2_k2,
        | CAST(re4 * re4 AS BIGINT) AS mag2_k4
        |FROM sums""".stripMargin,
    // the DIRECT O(n²) DFT over the NTT field (X_k = Σ s_n·ω^{nk} mod p,
    // twiddle powers from a recursive CTE, samples restated generatively
    // and lifted into the field) against the engine's radix-2 FFT — hash
    // equality is the FFT≡DFT identity checked bit-for-bit on decoded data
    "m12_radix_fft" ->
      """WITH RECURSIVE pw(j, v) AS (
        | SELECT 0, CAST(1 AS BIGINT)
        | UNION ALL
        | SELECT j + 1, (v * 8224) % 65537 FROM pw WHERE j < 63),
        |pwl AS (SELECT list(v ORDER BY j) AS w FROM pw),
        |params AS (SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
        |samples AS (
        | SELECT doc_id, i,
        |  (((doc_id * 31 + i * 7919) % 65536) - 32768 + 65537) % 65537 AS s
        | FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM params) t),
        |terms AS (
        | SELECT doc_id, k, s * w[CAST((i * k) % 64 AS INT) + 1] AS term
        | FROM samples, pwl, (SELECT unnest(range(0, 64)) AS k) ks)
        |SELECT doc_id, CAST(k AS INT) AS k,
        | CAST(sum(term) % 65537 AS BIGINT) AS x
        |FROM terms GROUP BY doc_id, k""".stripMargin,
    // the m6 generative formula restated in IMAGE coordinates (y top-down):
    // the Spark side recovered (x, y, BGR) from the BYTES (data offset,
    // stride padding, signed-height row order), so hash equality proves the
    // pixel-level decode, not an echo
    "m6_pixel_stats" ->
      """WITH dims AS (
        | SELECT doc_id, CAST(2 + doc_id % 6 AS INT) AS width,
        |        CAST(1 + doc_id % 4 AS INT) AS height
        | FROM documents),
        |px AS (
        | SELECT doc_id, width, height, i % width AS x, i // width AS y
        | FROM (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS i FROM dims) t),
        |lums AS (
        | SELECT doc_id, width, height, y,
        |  ((doc_id + 3*x + 7*y) % 256)
        |   + 2*((2*doc_id + 5*x + 11*y) % 256)
        |   + 4*((3*doc_id + 13*x + 17*y) % 256) AS lum
        | FROM px)
        |SELECT doc_id, width, height, count(*) AS n_pixels,
        | CAST(sum(lum) AS BIGINT) AS sum_lum,
        | CAST(max(lum) AS BIGINT) AS max_lum,
        | CAST(sum((y + 1) * lum) AS BIGINT) AS ysum
        |FROM lums GROUP BY doc_id, width, height""".stripMargin,
    "m8_resize_stats" ->
      """WITH dims AS (
        | SELECT doc_id, CAST(2 + doc_id % 6 AS INT) AS width,
        |        CAST(1 + doc_id % 4 AS INT) AS height,
        |        CAST((2 + doc_id % 6 + 1) // 2 AS INT) AS out_w,
        |        CAST((1 + doc_id % 4 + 1) // 2 AS INT) AS out_h
        | FROM documents),
        |px AS (
        | SELECT doc_id, width, height, out_w, out_h,
        |        2 * (i % out_w) AS x, 2 * (i // out_w) AS y, i // out_w AS v
        | FROM (SELECT doc_id, width, height, out_w, out_h,
        |        unnest(range(0, out_w * out_h)) AS i FROM dims) t),
        |lums AS (
        | SELECT doc_id, width, height, out_w, out_h, v,
        |  ((doc_id + 3*x + 7*y) % 256)
        |   + 2*((2*doc_id + 5*x + 11*y) % 256)
        |   + 4*((3*doc_id + 13*x + 17*y) % 256) AS lum
        | FROM px)
        |SELECT doc_id, width, height, out_w, out_h, count(*) AS n_pixels,
        | CAST(sum(lum) AS BIGINT) AS sum_lum,
        | CAST(max(lum) AS BIGINT) AS max_lum,
        | CAST(sum((v + 1) * lum) AS BIGINT) AS ysum
        |FROM lums GROUP BY doc_id, width, height, out_w, out_h""".stripMargin,
    "m7_png_stats" ->
      """WITH dims AS (
        | SELECT doc_id, CAST(3 + doc_id % 5 AS INT) AS width,
        |        CAST(2 + doc_id % 3 AS INT) AS height
        | FROM documents),
        |px AS (
        | SELECT doc_id, width, height, i % width AS x, i // width AS y
        | FROM (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS i FROM dims) t),
        |lums AS (
        | SELECT doc_id, width, height, y,
        |  ((3*doc_id + 11*x + 13*y) % 256)
        |   + 2*((2*doc_id + 7*x + 5*y) % 256)
        |   + 4*((doc_id + 5*x + 3*y) % 256) AS lum
        | FROM px)
        |SELECT doc_id, width, height, count(*) AS n_pixels,
        | CAST(sum(lum) AS BIGINT) AS sum_lum,
        | CAST(max(lum) AS BIGINT) AS max_lum,
        | CAST(sum((y + 1) * lum) AS BIGINT) AS ysum
        |FROM lums GROUP BY doc_id, width, height""".stripMargin,
    "m9_jpeg_stats" ->
      """WITH dims AS (
        | SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INT) AS width,
        |        CAST(8 * (1 + doc_id % 2) AS INT) AS height
        | FROM documents),
        |px AS (
        | SELECT doc_id, width, height, i % width AS x, i // width AS y
        | FROM (SELECT doc_id, width, height,
        |        unnest(range(0, width * height)) AS i FROM dims) t),
        |lums AS (
        | SELECT doc_id, width, height, y,
        |  (doc_id * 37 + (x // 8) * 59 + (y // 8) * 83) % 256 AS lum
        | FROM px)
        |SELECT doc_id, width, height, count(*) AS n_pixels,
        | CAST(sum(lum) AS BIGINT) AS sum_lum,
        | CAST(max(lum) AS BIGINT) AS max_lum,
        | CAST(sum((y + 1) * lum) AS BIGINT) AS ysum
        |FROM lums GROUP BY doc_id, width, height""".stripMargin,
    // m10: the m9 block formula extended with the per-frame term
    // ((f + 1) * 101) — 1-based so frame 0 is NOT byte-identical to the
    // m9 fixture (see MultimodalOps.mjpegBlockValue)
    // and avih's (33 + id mod 5) ms frame period — the oracle restates the
    // generative math; the engine must recover it from the AVI bytes
    "m10_avi_frames" ->
      """WITH dims AS (
        | SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INT) AS width,
        |        CAST(8 * (1 + doc_id % 2) AS INT) AS height,
        |        CAST(1 + doc_id % 3 AS INT) AS n_frames,
        |        CAST(33 + doc_id % 5 AS BIGINT) AS ms_per_frame
        | FROM documents),
        |fr AS (
        | SELECT doc_id, width, height, ms_per_frame,
        |        CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx
        | FROM dims),
        |px AS (
        | SELECT doc_id, frame_idx, ms_per_frame, width, height,
        |        i % width AS x, i // width AS y
        | FROM (SELECT doc_id, frame_idx, ms_per_frame, width, height,
        |        unnest(range(0, width * height)) AS i FROM fr) t),
        |lums AS (
        | SELECT doc_id, frame_idx, ms_per_frame, width, height, y,
        |  (doc_id * 37 + (frame_idx + 1) * 101 + (x // 8) * 59 + (y // 8) * 83) % 256 AS lum
        | FROM px)
        |SELECT doc_id, frame_idx,
        | CAST(frame_idx * ms_per_frame AS BIGINT) AS frame_t_ms,
        | width, height, count(*) AS n_pixels,
        | CAST(sum(lum) AS BIGINT) AS sum_lum,
        | CAST(max(lum) AS BIGINT) AS max_lum,
        | CAST(sum((y + 1) * lum) AS BIGINT) AS ysum
        |FROM lums
        |GROUP BY doc_id, frame_idx, ms_per_frame, width, height""".stripMargin,
    "d34_bigram_lm" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        | FROM documents),
        |uni AS (
        | SELECT token AS w, count(*) AS uc FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents) x GROUP BY 1),
        |vocab AS (SELECT count(*) AS v FROM uni),
        |pairs0 AS (
        | SELECT doc_id, t, unnest(range(1, len(t))) AS i
        | FROM toks WHERE len(t) >= 2),
        |pairs AS (
        | SELECT doc_id, t[CAST(i AS INT)] AS prev, t[CAST(i + 1 AS INT)] AS w
        | FROM pairs0),
        |big AS (SELECT prev, w, count(*) AS bc FROM pairs GROUP BY 1, 2),
        |scored AS (
        | SELECT p.doc_id,
        |  CAST(CAST(b.bc + 1 AS DOUBLE) / CAST(u.uc + v.v AS DOUBLE)
        |   AS DECIMAL(20,10)) AS pr
        | FROM pairs p
        | JOIN big b ON b.prev = p.prev AND b.w = p.w
        | JOIN uni u ON u.w = p.prev
        | CROSS JOIN vocab v)
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(sum(pr) AS DOUBLE) / count(*) AS avg_p
        |FROM scored GROUP BY doc_id""".stripMargin,
    "d35_segment_rewrite" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        | FROM documents),
        |segs0 AS (
        | SELECT doc_id, t, unnest(range(0, (len(t) + 9) // 10)) AS g
        | FROM toks),
        |segs AS (
        | SELECT doc_id, CAST(g AS INT) AS g,
        |  array_to_string(t[CAST(g * 10 + 1 AS INT) : CAST(g * 10 + 10 AS INT)], ' ') AS seg
        | FROM segs0),
        |ranked AS (
        | SELECT doc_id, g, seg,
        |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, g) AS rn
        | FROM segs),
        |rebuilt AS (
        | SELECT doc_id, count(*) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY g) AS txt
        | FROM ranked WHERE rn = 1 GROUP BY doc_id),
        |totals AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id)
        |SELECT t.doc_id, t.n_segments,
        | COALESCE(r.n_kept, 0) AS n_kept,
        | md5(COALESCE(r.txt, '')) AS text_md5
        |FROM totals t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "s4_quarantine" ->
      """WITH h AS (SELECT min(date_trunc('hour', ts)) AS h0 FROM events)
        |SELECT count(*) AS cnt_landed,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | CAST(5 AS BIGINT) AS n_quarantined
        |FROM events, h WHERE date_trunc('hour', ts) = h0""".stripMargin,
    "st16_streaming_quarantine" ->
      """WITH h AS (SELECT min(date_trunc('hour', ts)) AS h0 FROM events)
        |SELECT count(*) AS cnt_landed,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | CAST(5 AS BIGINT) AS n_quarantined
        |FROM events, h WHERE date_trunc('hour', ts) = h0""".stripMargin,
    "st1_streaming_hourly" ->
      """WITH scoped AS (
        | SELECT ts FROM events WHERE day(ts) < 10)
        |SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt
        |FROM scoped
        |GROUP BY date_trunc('hour', ts)
        |HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <=
        |       (SELECT max(ts) - INTERVAL 40 MINUTE FROM scoped)""".stripMargin,
    "st7_chained_agg" ->
      """WITH scoped AS (
        | SELECT ts FROM events WHERE day(ts) < 10),
        |q AS (
        | SELECT date_trunc('hour', ts) +
        |   (minute(ts) // 15) * (INTERVAL 15 MINUTE) AS q_start,
        |  count(*) AS cnt15
        | FROM scoped GROUP BY 1)
        |SELECT date_trunc('hour', q_start) AS hour_ts,
        | count(*) AS n_quarters,
        | CAST(sum(cnt15) AS BIGINT) AS cnt,
        | max(cnt15) AS max_quarter
        |FROM q GROUP BY 1
        |HAVING date_trunc('hour', q_start) + INTERVAL 1 HOUR <=
        |       (SELECT max(ts) - INTERVAL 40 MINUTE FROM scoped)""".stripMargin,
    "st5_sliding_window" ->
      """WITH scoped AS (
        | SELECT ts, user_id FROM events WHERE day(ts) <= 9),
        |w AS (
        | SELECT date_trunc('hour', ts) +
        |   (minute(ts) // 30) * (INTERVAL 30 MINUTE) AS s1, user_id
        | FROM scoped),
        |b AS (
        | SELECT s1 AS win_start, user_id FROM w
        | UNION ALL
        | SELECT s1 - INTERVAL 30 MINUTE AS win_start, user_id FROM w)
        |SELECT win_start, count(*) AS cnt,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM b GROUP BY win_start
        |HAVING win_start + INTERVAL 1 HOUR <=
        |       (SELECT max(ts) - INTERVAL 40 MINUTE FROM scoped)""".stripMargin,
    "q28_salted_agg" ->
      """SELECT event_type, CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        | count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    "q29_star_join" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4)))
        |   AS DOUBLE) AS revenue,
        | count(*) AS line_cnt
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "e7_ivf_recall" -> e7OracleSql,
    "d15_corpus_dedup" -> d15OracleSql,
    "q30_asof_native" ->
      """WITH p AS (
        | SELECT user_id AS p_user, epoch_us(ts) AS p_tsl, max(value) AS p_val
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, p.p_tsl, p.p_val
        |FROM events e ASOF LEFT JOIN p
        |  ON e.user_id = p.p_user AND epoch_us(e.ts) >= p.p_tsl""".stripMargin,
    "st2_streaming_sessions" ->
      """WITH scoped AS (
        | SELECT user_id, event_id, ts FROM events WHERE day(ts) < 10),
        |se AS (
        | SELECT user_id, event_id, epoch_us(ts) AS tu,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM scoped
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s2 AS (
        | SELECT user_id, tu,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
        |                 ROWS UNBOUNDED PRECEDING) AS seq
        | FROM se),
        |sess AS (
        | SELECT user_id, seq, min(tu) AS session_start_us,
        |  max(tu) AS session_end_us, count(*) AS n_events
        | FROM s2 GROUP BY user_id, seq)
        |SELECT user_id, session_start_us, session_end_us, n_events
        |FROM sess
        |WHERE seq < (SELECT max(seq) FROM sess x WHERE x.user_id = sess.user_id)
        |   OR (session_end_us + 1800000000) // 1000 <
        |      (SELECT epoch_us(max(ts)) // 1000 - 2400000 FROM scoped)""".stripMargin,
    // st12: built-in session_window aggregation — same gap-sessionization
    // construction as st2's oracle, but the closure rule is the built-in
    // operator's: a session (window end = last event + gap) emits iff its
    // end <= the ms-floored final watermark
    // st13: last-writer-wins is associative/commutative over micro-batches
    // (the merge keeps the (ts, event_id)-max row per key), so the final
    // table state is the arg-max over all day=01 changes under ANY batch
    // split — stated directly as a per-user latest-event window
    "st13_streaming_cdc" ->
      """WITH scoped AS (
        | SELECT user_id, ts, event_type, value, event_id
        | FROM events WHERE day(ts) = 1),
        |r AS (
        | SELECT user_id, epoch_us(ts) AS ts_us, event_type, value, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM scoped)
        |SELECT user_id, ts_us, event_type, value, event_id
        |FROM r WHERE rn = 1""".stripMargin,
    // q47: the map build/filter/transform/explode round-trip restated
    // relationally — map content equality IS the row equality after explode
    "q47_map_ops" ->
      """WITH c AS (
        | SELECT user_id, event_type, count(*) AS cnt
        | FROM events GROUP BY user_id, event_type),
        |f AS (SELECT * FROM c WHERE cnt >= 3),
        |n AS (SELECT user_id, CAST(count(*) AS INT) AS n_types
        |      FROM f GROUP BY user_id)
        |SELECT f.user_id, n.n_types, f.event_type, f.cnt * 2 AS n2
        |FROM f JOIN n ON f.user_id = n.user_id""".stripMargin,
    // q48: duckdb executes the same LATERAL text (both engines cut top-2 by
    // the same (price DESC, o_orderkey) order, so the result is exact)
    "q48_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.price
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DOUBLE) AS price
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY price DESC, o_orderkey ASC LIMIT 2) t
        |WHERE c.c_custkey % 10 = 0""".stripMargin,
    // q49: IS NOT DISTINCT FROM is duckdb's null-safe equality — the NULL
    // group must appear in the result exactly once
    "q49_null_safe_join" ->
      """WITH keyed AS (
        | SELECT CASE WHEN event_type = 'view' THEN NULL
        |             ELSE event_type END AS k, event_id
        | FROM events),
        |a AS (SELECT k, count(*) AS n_even FROM keyed
        |      WHERE event_id % 2 = 0 GROUP BY k),
        |b AS (SELECT k, count(*) AS n_odd FROM keyed
        |      WHERE event_id % 2 <> 0 GROUP BY k)
        |SELECT a.k, a.n_even, b.n_odd
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,
    // d30: canonical form restated with the same regex chain (duckdb RE2 and
    // Spark's Java regex agree on the [^a-z0-9\s] / \s+ subset)
    "d30_canonical_dedup" ->
      """WITH c AS (
        | SELECT source, md5(text) AS raw_h,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | count(DISTINCT raw_h) AS n_exact_forms,
        | count(DISTINCT h) AS n_canon_forms,
        | count(DISTINCT raw_h) - count(DISTINCT h) AS n_caught_by_canon
        |FROM c GROUP BY source""".stripMargin,
    // restates d37: prior = doc_id%5<>0, batch = %5=0, canonical-hash
    // anti-join, within-batch min-id winner, v2 = prior ∪ kept
    "d37_incremental_dedup" ->
      """WITH d AS (
        | SELECT doc_id, source,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
        | FROM documents),
        |prior AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |batch AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |keptb AS (
        | SELECT h, min(doc_id) AS doc_id,
        |  arg_min(source, doc_id) AS source
        | FROM batch b
        | WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.h = b.h)
        | GROUP BY h),
        |v2 AS (
        | SELECT doc_id, source, FALSE AS is_new FROM prior
        | UNION ALL SELECT doc_id, source, TRUE FROM keptb),
        |nb AS (SELECT source, count(*) AS n_batch FROM batch GROUP BY source)
        |SELECT v.source, count(*) AS n_docs_v2,
        | CAST(sum(CASE WHEN v.is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new_kept,
        | CAST(any_value(nb.n_batch) -
        |  sum(CASE WHEN v.is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new_dropped
        |FROM v2 v JOIN nb ON nb.source = v.source
        |GROUP BY v.source""".stripMargin,
    "d38_bpe_merges" -> d38OracleSql(),
    "d39_bpe_tokenize" -> d39OracleSql(),
    // c4: hours below the cutoff (first day's noon) are deleted directories;
    // the oracle counts the same hours from the data — an hour with no rows
    // never had a directory, so both sides count physically-existing hours
    "c4_retention" ->
      """WITH scoped AS (
        | SELECT * FROM events WHERE day(ts) = 1),
        |drop0 AS (
        | SELECT count(DISTINCT date_trunc('hour', ts)) AS n_dropped
        | FROM scoped WHERE hour(ts) < 12)
        |SELECT date_trunc('hour', ts) AS hour_ts,
        | count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | (SELECT n_dropped FROM drop0) AS n_dropped
        |FROM scoped WHERE hour(ts) >= 12
        |GROUP BY date_trunc('hour', ts)""".stripMargin,
    // st15: the head version must hold exactly the replayed day under ANY
    // batch split (commits only append files; the final manifest is the
    // union of all batches) — stated as the whole-day per-hour aggregate
    "st15_streaming_snapshots" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE day(ts) = 1
        |GROUP BY date_trunc('hour', ts)""".stripMargin,
    // st14: stateless per-row join ⇒ exact under any batch split; the inner
    // join against the dimension is the user filter, stated directly
    "st14_stream_static" ->
      """SELECT user_id % 5 AS segment, count(*) AS n_events,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE day(ts) = 1 AND user_id % 3 <> 1
        |GROUP BY user_id % 5""".stripMargin,
    "st12_session_window" ->
      """WITH scoped AS (
        | SELECT user_id, event_id, ts FROM events WHERE day(ts) = 1),
        |se AS (
        | SELECT user_id, event_id, epoch_us(ts) AS tu,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS brk
        | FROM scoped
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s2 AS (
        | SELECT user_id, event_id, tu,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
        |                 ROWS UNBOUNDED PRECEDING) AS seq
        | FROM se),
        |sess AS (
        | SELECT user_id, seq, min(tu) AS session_start_us,
        |  max(tu) + 1800000000 AS session_end_us,
        |  count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS sum_eid
        | FROM s2 GROUP BY user_id, seq)
        |SELECT user_id, session_start_us, session_end_us, n_events, sum_eid
        |FROM sess
        |WHERE session_end_us <=
        |      ((SELECT epoch_us(max(ts)) // 1000 FROM scoped) - 2400000) * 1000
        |""".stripMargin,
    "d16_char_entropy" ->
      """WITH cc AS (
        | SELECT doc_id, ch, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents) t
        | GROUP BY doc_id, ch),
        |wn AS (
        | SELECT doc_id, c,
        |  CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS n
        | FROM cc)
        |SELECT doc_id, count(*) AS distinct_chars,
        | CAST(-sum(CAST((c / n) * log2(c / n) AS DECIMAL(20,6))) AS DOUBLE)
        |   AS char_entropy
        |FROM wn GROUP BY doc_id""".stripMargin,
    "e8_lsh_projections" -> e8OracleSql,
    "e11_pq_adc" -> e11OracleSql,
    "e14_ivf_pq" -> e14OracleSql,
    "e15_kmeans" -> e15OracleSql,
    "e24_trained_pq" -> e24OracleSql,
    "e25_trained_pq_search" -> e25OracleSql,
    "e26_trained_ivfpq_full" -> e26OracleSql,
    // e32 persists the codes in on-disk inverted lists and serves
    // partition-pruned — same math, same rows as e26, different storage
    // path; the shared oracle IS the equivalence claim (the e18/st17 rule)
    "e32_persisted_ivfpq" -> e26OracleSql,
    "e33_filtered_pq_serve" -> e33OracleSql,
    // e34 shares e33's entire serving chain; only the codes-CTE predicate
    // differs — exactly the axis the parameterized engine plan exposes
    "e34_filtered_serve_range" -> e33OracleSqlWith("", "le.label >= 6"),
    // e35: bin splitting must be INVISIBLE to search — the oracle is
    // e18's full-corpus restatement for the fourth time (persist e18,
    // append e20, compact e23, now split); children partition the parent
    // so the merged lists hold exactly the corpus
    "e35_bin_split_maintain" -> e18OracleSql,
    // e36 composes append→split→delete→compact→map-refresh; results must
    // equal the plain search over corpus minus the doomed set — which is
    // exactly e21's SQL (the split/compact/map machinery is invisible)
    "e36_split_lifecycle" -> e21OracleSql,
    // e37: after the blue-green re-index, serving must answer the e18
    // search UNDER THE RE-TRAINED GEOMETRY (one Lloyd round over the live
    // corpus) — a swap that lost vectors, served the stale generation, or
    // vacuumed a live file diverges here
    "e37_retrain_swap" -> e37OracleSql,
    // e38: the blue-green re-index of the COMPRESSED artifact — after the
    // coarse+fine re-train, the re-encode, and the swap, serving from the
    // head generation (codes + both codebook sidecars, no corpus access)
    // must answer e26's fully-trained ADC search verbatim: the THIRD
    // restatement of e26 (e32 persisted, st21 stream-built, e38
    // re-trained) — build history is invisible to answers
    "e38_retrain_swap_compressed" -> e26OracleSql,
    // st25 is the STREAMING takedown: ingest + two split passes + a
    // mid-stream tombstoned erasure compose to e21's corpus-minus-doomed
    // search, plus the exactly-once batch count
    "st25_streaming_split_takedown" -> e21OracleSqlWith(", 4 AS n_commits"),
    // st26: the swap lands mid-stream — batches 0-1 must answer under
    // gen-1 (demo) geometry, 2-3 under the re-trained geometry, each
    // exactly twice, with 4 exactly-once result commits
    "st26_streaming_generation_swap" -> st26OracleSql,
    // st27: the swap lands mid-stream INSIDE st24's maintenance loop —
    // splits at batches 1 and 3 bracket the batch-2 re-index, so
    // ingest + compaction + two splits + the swap must answer e37's
    // re-trained serving SQL verbatim, with exactly-once counts for
    // both job classes (4 appends; 1 swap, 2 splits)
    "st27_swap_under_split_maintain" -> st27OracleSql,
    // st28: the compressed swap lands mid-stream in the ADC serving loop
    // — batches 0-1 answer under the one-round books, 2-3 under the
    // production two-round books, each exactly twice, 4 keyed commits;
    // a batch pairing codes with the wrong generation's fine books
    // produces scores with no row in either generation's oracle half
    "st28_streaming_pq_generation_swap" -> st28OracleSql,
    "st23_streaming_filtered_serve" ->
      e33OracleSqlWith(", 4 AS n_commits"),
    // st21 builds e32's compressed index from a stream under frozen
    // codebooks — batch-built ∪ batch-built ≡ one-shot build, so serving
    // answers e26's search exactly (the e18/st17 rule, compressed)
    "st21_streaming_pq_ingest" -> e26OracleSql,
    // st22 serves a query stream against e32's persisted compressed index
    // with an exact refine: e26's ADC chain at shortlist width, re-ranked
    // by e30's exact cosine, plus the commit count
    "st22_streaming_pq_serve" -> st22OracleSql,
    "e27_pq_k64" -> e25OracleSqlK(64),
    "e31_pq_k256" -> e25OracleSqlK(256),
    "d36_semantic_dedup" -> d36OracleSql,
    "x1_corpus_pipeline" -> x1OracleSql,
    "x2_bpe_tokenized_corpus" -> x2OracleSql(),
    "x3_packed_sequences" -> x3OracleSql(),
    // x4 persists the pack map (split-partitioned staged-swap
    // landing write) and censuses the RE-READ artifact with placement
    // reconstructed from the stored columns alone — round-trip ≡
    // in-flight, so x3's oracle restates it verbatim
    "x4_persisted_pack_map" -> x3OracleSql(),
    "st19_streaming_corpus_build" -> st19OracleSql,
    "d41_imi_cobin_recall" -> d41OracleSql,
    "d40_semantic_dedup_imi" -> d40OracleSql,
    // the incrementally-deduped state must equal the batch answer: d36's
    // full-corpus SQL verbatim is the order-independence oracle
    "st18_streaming_semantic_dedup" -> d36OracleSql,
    "e28_trained_nprobe" -> e28OracleSql,
    "e29_trained_nprobe_recall" -> e29OracleSql,
    "e30_trained_refine" -> e30OracleSql,
    "e16_nprobe" -> e16OracleSql,
    // e19: e18's restatement with the label predicate applied inside the
    // probed bins and nprobe=2 probe sets (a_rk <= 2)
    "e19_filtered_ivf" ->
      """WITH cents AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb
        | FROM embeddings WHERE vec_id < 4),
        |asg0 AS (
        | SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
        |     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
        |    AS DECIMAL(20,6)) DESC, c.centroid_id ASC) AS a_rk
        | FROM embeddings e, cents c),
        |asg AS (
        | SELECT vec_id, embedding, label, centroid_id FROM asg0 WHERE a_rk = 1),
        |q AS (
        | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
        | FROM asg0 WHERE vec_id < 10 AND a_rk <= 2),
        |cand AS (
        | SELECT q.query_id, a.vec_id AS neighbor_id,
        |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
        |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
        |   AS DECIMAL(20,6)) AS sim_dec
        | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
        |  AND a.vec_id <> q.query_id
        | WHERE a.label IN (1, 3, 5)),
        |r AS (
        | SELECT query_id, neighbor_id, sim_dec,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM cand)
        |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS ivf_sim
        |FROM r WHERE rank <= 3""".stripMargin,
    "e17_trained_ivfpq" -> e17OracleSql,
    "e12_quant_recall" -> e12OracleSql,
    "e13_pq_refine" -> e13OracleSql,
    "e10_sq_knn" ->
      """WITH ex AS (
        | SELECT unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS v
        | FROM embeddings),
        |st AS (
        | SELECT pos, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
        | FROM ex GROUP BY pos),
        |stats AS (
        | SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
        | FROM st),
        |codes AS (
        | SELECT e.vec_id AS neighbor_id,
        |  list_transform(range(1, 65), i ->
        |   CASE WHEN s.maxs[i] - s.mins[i] = 0.0 THEN 0
        |        ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - s.mins[i]) /
        |                        (s.maxs[i] - s.mins[i]) * 255.0) AS BIGINT)
        |   END) AS code
        | FROM embeddings e, stats s),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.neighbor_id,
        |  CAST(list_aggregate(list_transform(range(1, 65), i ->
        |    CAST(q.embedding[i] AS DOUBLE) *
        |    (s.mins[i] + c.code[i] * (s.maxs[i] - s.mins[i]) / 255.0)), 'sum')
        |   AS DECIMAL(20,6)) AS sim_dec
        | FROM embeddings q, codes c, stats s
        | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, sim_dec,
        |  row_number() OVER (PARTITION BY query_id
        |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
        | FROM scored)
        |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS sq_sim
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "q33_multi_distinct" ->
      """SELECT event_type,
        | count(DISTINCT user_id) AS uniq_users,
        | count(DISTINCT length(props)) AS uniq_props_lens,
        | count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    "q34_not_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,
    "q32_window_suite" ->
      """WITH base AS (
        | SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |SELECT o_orderkey, o_custkey, quartile, prev_price, next_price,
        | last_value(prev_price IGNORE NULLS)
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS UNBOUNDED PRECEDING) AS last_seen_price
        |FROM base""".stripMargin,
    // d33: the h60 bucket partitioned into 80/10/10 ranges — the split
    // must be a function of the document's own bytes alone
    "d33_split_assign" ->
      """WITH s AS (
        | SELECT source, doc_id,
        |  CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 80
        |       THEN 'train'
        |       WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 90
        |       THEN 'valid' ELSE 'test' END AS split
        | FROM documents)
        |SELECT source, split, count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM s GROUP BY source, split""".stripMargin,
    "d18_hash_sample" ->
      """SELECT source, count(*) AS total,
        | CAST(sum(CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 5
        |   THEN 1 ELSE 0 END) AS BIGINT) AS sampled_5pct,
        | CAST(sum(CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 20
        |   THEN 1 ELSE 0 END) AS BIGINT) AS sampled_20pct
        |FROM documents GROUP BY source""".stripMargin,
    "e9_text_vector_join" ->
      """WITH norms AS (
        | SELECT vec_id,
        |  CAST(sqrt(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |   AS DECIMAL(20,6)) AS norm_dec
        | FROM embeddings)
        |SELECT lang, count(*) AS n,
        | CAST(sum(norm_dec) AS DOUBLE) / count(*) AS avg_l2
        |FROM documents JOIN norms ON doc_id = vec_id
        |GROUP BY lang""".stripMargin,
    "d17_shingle_udtf" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |r2 AS (
        | SELECT doc_id, i, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        | FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
        |       FROM toks WHERE len(t) >= 3) u),
        |d AS (SELECT doc_id, sh, min(i) AS first_i FROM r2 GROUP BY doc_id, sh),
        |pos AS (
        | SELECT doc_id, sh AS shingle,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY first_i) - 1 AS INT)
        |    AS pos
        | FROM d
        | UNION ALL
        | SELECT doc_id, text, 0 FROM documents
        | WHERE len(string_split_regex(trim(text), '\s+')) < 3)
        |SELECT doc_id, pos, shingle FROM pos WHERE pos < 3""".stripMargin,
    "q31_salted_join" ->
      """WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
        |SELECT e.event_type, count(*) AS cnt,
        | CAST(sum(d.user_total) AS BIGINT) AS sum_user_total
        |FROM events e JOIN d ON e.user_id = d.user_id
        |GROUP BY e.event_type""".stripMargin,
    "b1_bucketed_join" ->
      """WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
        |SELECT e.user_id % 50 AS user_mod, count(*) AS cnt,
        | CAST(sum(d.user_total) AS BIGINT) AS sum_user_total
        |FROM events e JOIN d ON e.user_id = d.user_id
        |GROUP BY e.user_id % 50""".stripMargin,
    "q38_bloom_join" ->
      """SELECT l_returnflag, count(*) AS cnt,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY l_returnflag""".stripMargin,
    "q39_tpch_deep" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "u1_merge_upsert" ->
      """WITH base AS (
        | SELECT * FROM events
        | WHERE date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events)),
        |upd AS (
        | SELECT event_id, ts, user_id, event_type, value + 1000 AS value,
        |  'updated' AS props FROM base WHERE event_id % 3 = 0
        | UNION ALL
        | SELECT event_id + 1000000000, ts, user_id, event_type, value,
        |  'inserted' FROM base WHERE event_id % 5 = 0),
        |merged AS (
        | SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        | UNION ALL SELECT * FROM upd)
        |SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | CAST(sum(CASE WHEN props = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
        | CAST(sum(CASE WHEN props = 'inserted' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |FROM merged GROUP BY date_trunc('hour', ts)""".stripMargin,
    // u7: v1 read after v2's commit must still be the ORIGINAL day (pinned
    // snapshot), v2 shows the hour-12 corrections — one oracle states both
    "u7_time_travel" ->
      """WITH base AS (
        | SELECT * FROM events
        | WHERE date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events)),
        |versions AS (
        | SELECT 1 AS version, ts, event_id, value FROM base
        | UNION ALL
        | SELECT 2 AS version, ts, event_id,
        |  CASE WHEN hour(ts) = 12 AND event_id % 3 = 0
        |       THEN value + 1000 ELSE value END AS value
        | FROM base)
        |SELECT version, date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM versions GROUP BY version, date_trunc('hour', ts)""".stripMargin,
    // u8: every store's before/after restated from the id arithmetic — a
    // doomed row surviving anywhere (or an innocent one lost) fails the hash
    "u8_cascading_takedown" ->
      """WITH base AS (
        | SELECT * FROM events
        | WHERE date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events))
        |SELECT 'landing' AS store,
        | (SELECT count(*) FROM base) AS n_before,
        | (SELECT count(*) FROM base WHERE user_id % 7 <> 0) AS n_after
        |UNION ALL
        |SELECT 'serving',
        | (SELECT count(DISTINCT user_id) FROM base),
        | (SELECT count(DISTINCT user_id) FROM base WHERE user_id % 7 <> 0)
        |UNION ALL
        |SELECT 'index',
        | (SELECT count(*) FROM embeddings),
        | (SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 0)""".stripMargin,
    "u2_delete_keys" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS cnt,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events)
        | AND user_id % 5 <> 0
        |GROUP BY date_trunc('hour', ts)""".stripMargin,
    "u3_schema_drift" ->
      """WITH merged AS (
        | SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS props,
        |  CAST(NULL AS DOUBLE) AS quality, 1 AS gen
        | FROM events WHERE event_id % 2 = 0
        | UNION ALL
        | SELECT event_id, user_id, value, props, value * 0.5, 2
        | FROM events WHERE event_id % 2 <> 0)
        |SELECT gen, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(count(props) AS BIGINT) AS n_props,
        | CAST(sum(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) AS sum_quality
        |FROM merged GROUP BY gen""".stripMargin,
    "c1_compact" ->
      """SELECT 1 AS n_files, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE date_trunc('hour', ts) = (SELECT min(date_trunc('hour', ts)) FROM events)""".stripMargin,
    // c3: the sweep planner's contract stated from the raw events — every
    // day-1 hour survives with exact content and exactly one file, and the
    // compacted set is precisely the fragmented hours (every 8th hour with
    // more than one row; a 1-row hour cannot fragment into >1 slices)
    "c3_compact_sweep" ->
      """WITH scoped AS (
        | SELECT * FROM events
        | WHERE date_trunc('day', ts) =
        |       (SELECT min(date_trunc('day', ts)) FROM events))
        |SELECT date_trunc('hour', ts) AS hour_ts,
        | count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | CAST(1 AS BIGINT) AS n_files,
        | (hour(date_trunc('hour', ts)) % 8 = 0 AND count(*) > 1)
        |   AS was_compacted
        |FROM scoped GROUP BY date_trunc('hour', ts)""".stripMargin,
    "s3_sql_catalog" ->
      """SELECT CAST(extract(hour FROM ts) AS INT) AS hr, count(*) AS cnt,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events)
        |GROUP BY 1""".stripMargin,
    "c2_manifest_skip" ->
      """WITH b AS (SELECT min(user_id) AS mn, max(user_id) AS mx FROM events)
        |SELECT user_id, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN (SELECT mn + (mx - mn) // 4 FROM b)
        | AND (SELECT mn + (mx - mn) // 2 FROM b)
        |GROUP BY user_id""".stripMargin,
    "c5_cluster_box_skip" ->
      """WITH b AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
        |  min(event_id) AS emn, max(event_id) AS emx FROM events)
        |SELECT event_type, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN (SELECT umn + (umx - umn) // 4 FROM b)
        |  AND (SELECT umn + (umx - umn) // 2 FROM b)
        | AND event_id BETWEEN (SELECT emn + (emx - emn) // 8 FROM b)
        |  AND (SELECT emn + 3 * (emx - emn) // 8 FROM b)
        |GROUP BY event_type""".stripMargin,
    // c6 is c5's oracle VERBATIM: the maintained layout (clustered base ∪
    // re-clustered appends) must answer the identical box aggregate — hash
    // equality states the recurring re-cluster job lost/duplicated nothing
    "c6_cluster_maintain" ->
      """WITH b AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
        |  min(event_id) AS emn, max(event_id) AS emx FROM events)
        |SELECT event_type, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN (SELECT umn + (umx - umn) // 4 FROM b)
        |  AND (SELECT umn + (umx - umn) // 2 FROM b)
        | AND event_id BETWEEN (SELECT emn + (emx - emn) // 8 FROM b)
        |  AND (SELECT emn + 3 * (emx - emn) // 8 FROM b)
        |GROUP BY event_type""".stripMargin,
    "q40_hof" ->
      """SELECT vec_id, len(embedding) AS dim,
        | len(list_filter(embedding, x -> x > 0)) AS n_pos,
        | CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
        | CAST(list_position(embedding,
        |   list_aggregate(embedding, 'max')) AS BIGINT) AS argmax_pos,
        | len(list_filter(embedding, x -> x > 0.5)) > 0 AS has_gt_half,
        | CAST(CAST(list_aggregate(list_transform(
        |   list_sort(embedding, 'DESC')[1:3], x -> CAST(x AS DOUBLE)), 'sum')
        |  AS DECIMAL(20,6)) AS DOUBLE) AS top3_sum,
        | CAST(CAST(list_aggregate(list_transform(range(1, len(embedding)+1),
        |   i -> CAST(embedding[i] AS DOUBLE) *
        |        CAST(embedding[len(embedding)+1-i] AS DOUBLE)), 'sum')
        |  AS DECIMAL(20,6)) AS DOUBLE) AS selfrev_dot
        |FROM embeddings""".stripMargin,
    "q41_datetime" ->
      """SELECT o_orderkey,
        | CAST(o_orderdate AS DATE) AS od,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | last_day(CAST(o_orderdate AS DATE)) AS eom,
        | CAST(o_orderdate AS DATE) + CAST(
        |   CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
        |        ELSE (8 - isodow(o_orderdate)) % 7 END AS INTEGER) AS next_mon,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01')
        |   AS INTEGER) AS days_to_96,
        | CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        | CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        | CAST(week(o_orderdate) AS INTEGER) AS woy,
        | CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start,
        | epoch_ms(o_orderdate) // 1000 AS epoch_s
        |FROM orders""".stripMargin,
    "q42_percentile" ->
      """SELECT l_returnflag,
        | percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25_qty,
        | percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS q50_qty,
        | percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS q90_qty,
        | CAST(CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
        |   AS DECIMAL(20,6)) AS DOUBLE) AS med_price,
        | CAST(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
        |   AS DECIMAL(20,6)) AS DOUBLE) AS p95_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "d22_segment_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        | FROM documents),
        |inst AS (
        | SELECT doc_id,
        |  CAST('0x' || substr(md5(unnest(list_transform(
        |    range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)),
        |    g -> array_to_string(t[g*10+1 : g*10+10], ' ')))), 1, 15)
        |   AS BIGINT) AS h
        | FROM toks),
        |gc AS (SELECT h, count(*) AS c FROM inst GROUP BY h)
        |SELECT doc_id, count(*) AS n_segments,
        | CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_segments,
        | CAST(CAST(CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) AS DECIMAL(10,6)) AS DOUBLE) AS dup_ratio
        |FROM inst JOIN gc USING (h)
        |GROUP BY doc_id""".stripMargin,
    "d23_packing" ->
      """WITH toks AS (
        | SELECT doc_id, source,
        |  len(string_split_regex(trim(text), '\s+')) AS n
        | FROM documents),
        |w AS (
        | SELECT doc_id, source, n,
        |  sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS cum
        | FROM toks)
        |SELECT source, CAST((cum - n) // 2048 AS BIGINT) AS bin,
        | count(*) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS tot_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        | CAST(CAST(CAST(sum(n) AS DOUBLE) / 2048 AS DECIMAL(10,6)) AS DOUBLE)
        |   AS fill_ratio
        |FROM w GROUP BY source, (cum - n) // 2048""".stripMargin,
    "st8_state_reader" ->
      """WITH k AS (
        | SELECT DISTINCT user_id, event_type FROM events WHERE day(ts) = 1)
        |SELECT event_type, count(*) AS n_state_keys,
        | CAST(sum(user_id) AS BIGINT) AS sum_user_ids
        |FROM k GROUP BY event_type""".stripMargin,
    "u4_snapshot_diff" ->
      """WITH day0 AS (
        | SELECT event_id FROM events
        | WHERE date_trunc('day', ts) =
        |       (SELECT min(date_trunc('day', ts)) FROM events)),
        |cls AS (
        | SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN 'delete'
        |       WHEN event_id % 3 = 0 THEN 'update'
        |       ELSE 'unchanged' END AS change_type
        | FROM day0
        | UNION ALL
        | SELECT event_id + (SELECT max(event_id) + 1 FROM day0), 'insert'
        | FROM day0
        | WHERE event_id % 5 = 0)
        |SELECT change_type, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_key
        |FROM cls GROUP BY change_type""".stripMargin,
    "d28_tfidf" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(trim(text), '\s+')) AS term
        | FROM documents),
        |tf AS (
        | SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term,
        |  CAST(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS DECIMAL(20,6))
        |    AS score_dec
        | FROM tf JOIN dfreq df USING (term), n),
        |r AS (
        | SELECT doc_id, term, score_dec,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_dec DESC, term ASC) AS rank
        | FROM scored)
        |SELECT doc_id, rank, term, CAST(score_dec AS DOUBLE) AS tfidf
        |FROM r WHERE rank <= 3""".stripMargin,
    "st9_transform_with_state" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events WHERE day(ts) = 1 GROUP BY event_type""".stripMargin,
    "u5_scd2" ->
      """WITH m AS (
        | SELECT user_id, ts, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_attr
        | FROM events),
        |ch AS (
        | SELECT user_id, ts, event_id, event_type FROM m
        | WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr)
        |SELECT user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS version,
        | event_type, ts AS effective_from,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS effective_to,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |   AS is_current
        |FROM ch""".stripMargin,
    // u6: deliberately u5's full-rebuild SQL over the ENTIRE stream — the
    // Spark side built the dimension from days <20 and MERGED days >=20
    // incrementally, so hash equality proves incremental merge ≡ rebuild
    "u6_scd2_merge" ->
      """WITH m AS (
        | SELECT user_id, ts, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_attr
        | FROM events),
        |ch AS (
        | SELECT user_id, ts, event_id, event_type FROM m
        | WHERE rn = 1 OR event_type IS DISTINCT FROM prev_attr)
        |SELECT user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS version,
        | event_type, ts AS effective_from,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS effective_to,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |   AS is_current
        |FROM ch""".stripMargin,
    "d24_pii_redact" ->
      """WITH salted AS (
        | SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |    || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS n_phones,
        | len(regexp_extract_all(raw,
        |   '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(raw, '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM salted""".stripMargin,
    // d32: d25's shingle-hash CTE aggregated source-pairwise
    "d32_source_overlap" ->
      """WITH toks AS (
        | SELECT source, string_split_regex(trim(text), '\s+') AS t
        | FROM documents),
        |sx AS (
        | SELECT DISTINCT source,
        |  CAST('0x' || substr(md5(
        |    array_to_string(list_slice(t, i, i + 4), ' ')), 1, 15)
        |   AS BIGINT) AS h
        | FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS i
        |       FROM toks WHERE len(t) >= 5) u)
        |SELECT a.source AS src_a, b.source AS src_b,
        | count(*) AS shared_shingles
        |FROM sx a JOIN sx b ON a.h = b.h AND a.source < b.source
        |GROUP BY a.source, b.source""".stripMargin,
    "d25_decontaminate" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        | FROM documents),
        |sh AS (
        | SELECT DISTINCT doc_id,
        |  CAST('0x' || substr(md5(
        |    array_to_string(list_slice(t, i, i + 4), ' ')), 1, 15)
        |   AS BIGINT) AS h
        | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
        |       FROM toks WHERE len(t) >= 5) u),
        |ev AS (SELECT doc_id AS eval_id, h FROM sh WHERE doc_id % 40 = 0),
        |tr AS (SELECT doc_id, h FROM sh WHERE doc_id % 40 <> 0)
        |SELECT tr.doc_id, count(DISTINCT tr.h) AS leaked_shingles,
        | count(DISTINCT ev.eval_id) AS eval_docs_hit
        |FROM tr JOIN ev USING (h)
        |GROUP BY tr.doc_id""".stripMargin,
    "d26_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS total FROM documents GROUP BY source),
        |m AS (SELECT min(total) AS min_total FROM c),
        |r AS (
        | SELECT source, total,
        |  CAST(floor(100.0 * sqrt(CAST(min_total AS DOUBLE)
        |    / CAST(total AS DOUBLE))) AS INT) AS keep_pct
        | FROM c CROSS JOIN m),
        |b AS (
        | SELECT source,
        |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 AS b
        | FROM documents)
        |SELECT r.source, r.total, r.keep_pct,
        | CAST(sum(CASE WHEN b.b < r.keep_pct THEN 1 ELSE 0 END) AS BIGINT)
        |   AS kept
        |FROM b JOIN r USING (source)
        |GROUP BY r.source, r.total, r.keep_pct""".stripMargin,
    "d27_quality_classifier" ->
      """WITH f AS (
        | SELECT doc_id, length(text) AS len,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct_cnt,
        |  length(regexp_replace(text, '[^aeiou]', '', 'g')) AS vowel_cnt
        | FROM documents)
        |, s AS (
        | SELECT doc_id,
        |  CAST(-2.0 AS DOUBLE) + CAST(0.004 AS DOUBLE) * len
        |   - CAST(0.05 AS DOUBLE) * n_tokens
        |   + CAST(0.02 AS DOUBLE) * vowel_cnt
        |   - CAST(0.8 AS DOUBLE) * punct_cnt AS logit
        | FROM f)
        |SELECT doc_id, logit, logit > 0.0 AS keep FROM s""".stripMargin,
  )

  /** duckdb mirror of [[graft.operators.VectorQueries.e11PqAdc]] — the same
    * M×K sub-dot tables, unrolled in the same order, decimal-rounded before
    * the argmax and before the sum, ties to the lowest centroid id.
    */
  /** the WITH-chain through `ranked` shared by e11 (direct ADC top-k) and
    * e13 (ADC shortlist + exact re-rank).
    */
  /** Shared SQL fragments of the PQ oracle: (cents c0..c3 defs, the code
    * array expression over `e`/`s`, the ADC score over `q`/`c`/`s`).
    */
  private def pqSqlPieces: (String, String, String) = {
    val M = 8; val sub = 8; val K = 4
    def sdec(vec: String, cArr: String, m: Int): String = {
      val terms = (1 to sub).map(i =>
        s"CAST($vec[${m * sub + i}] AS DOUBLE) * CAST($cArr[${m * sub + i}] AS DOUBLE)")
        .mkString(" + ")
      s"CAST($terms AS DECIMAL(20,6))"
    }
    def codeM(m: Int): String = {
      val s = (0 until K).map(c => sdec("e.embedding", s"s.c$c", m))
      s"""CASE WHEN ${s(0)} >= ${s(1)} AND ${s(0)} >= ${s(2)} AND ${s(0)} >= ${s(3)} THEN 0
         |      WHEN ${s(1)} >= ${s(2)} AND ${s(1)} >= ${s(3)} THEN 1
         |      WHEN ${s(2)} >= ${s(3)} THEN 2 ELSE 3 END""".stripMargin
    }
    val codeArr = (0 until M).map(codeM).mkString("[", ",\n", "]")
    val scoreTerms = (0 until M).map { m =>
      val qd = (0 until K).map(c => sdec("q.embedding", s"s.c$c", m))
      s"""CASE WHEN c.code[${m + 1}] = 0 THEN ${qd(0)}
         |     WHEN c.code[${m + 1}] = 1 THEN ${qd(1)}
         |     WHEN c.code[${m + 1}] = 2 THEN ${qd(2)} ELSE ${qd(3)} END""".stripMargin
    }.mkString(" + ")
    val cDefs = (0 until K).map(c =>
      s"(SELECT embedding FROM embeddings WHERE vec_id = $c) AS c$c").mkString(",\n ")
    (cDefs, codeArr, scoreTerms)
  }

  private def e11RankedBody: String = {
    val (cDefs, codeArr, scoreTerms) = pqSqlPieces
    s"""WITH cents AS (
       | SELECT $cDefs),
       |codes AS (
       | SELECT e.vec_id AS neighbor_id, $codeArr AS code
       | FROM embeddings e, cents s),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.neighbor_id,
       |  CAST($scoreTerms AS DECIMAL(24,6)) AS sim_dec
       | FROM embeddings q, codes c, cents s
       | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
       |ranked AS (
       | SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM scored)""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e14IvfPq]] — e4's
    * IVF assignment restricts e11's ADC scoring to each query's probed
    * centroid bin (nprobe=1), then top-3 within the bin.
    */
  private def e14OracleSql: String = {
    val (cDefs, codeArr, scoreTerms) = pqSqlPieces
    s"""WITH cents AS (
       | SELECT $cDefs),
       |ivfc AS (
       | SELECT vec_id AS centroid_id, embedding AS c_emb
       | FROM embeddings WHERE vec_id < 4),
       |asg0 AS (
       | SELECT e.vec_id, c.centroid_id,
       |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
       |   AS DECIMAL(20,6)) AS a_sim
       | FROM embeddings e, ivfc c),
       |asg AS (
       | SELECT vec_id, centroid_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY a_sim DESC, centroid_id ASC) AS a_rk FROM asg0) t
       | WHERE a_rk = 1),
       |codes AS (
       | SELECT e.vec_id AS neighbor_id, $codeArr AS code
       | FROM embeddings e, cents s),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.neighbor_id,
       |  CAST($scoreTerms AS DECIMAL(24,6)) AS sim_dec
       | FROM embeddings q
       | JOIN asg qa ON qa.vec_id = q.vec_id
       | JOIN asg na ON na.centroid_id = qa.centroid_id
       | JOIN codes c ON c.neighbor_id = na.vec_id, cents s
       | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
       |ranked AS (
       | SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS ivfpq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  private def e11OracleSql: String =
    s"""$e11RankedBody
       |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS pq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e13PqRefine]] — e11's
    * ranked ADC chain cut at shortlist=10, then exact cosine (e2's fold
    * and decimal rounding) re-ranks the shortlist to the final top-3.
    */
  private def e13OracleSql: String =
    s"""$e11RankedBody,
       |short AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 10),
       |exact AS (
       | SELECT sh.query_id, sh.neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |   AS DECIMAL(20,6)) AS sim_dec
       | FROM short sh
       | JOIN embeddings q ON q.vec_id = sh.query_id
       | JOIN embeddings n ON n.vec_id = sh.neighbor_id),
       |rr AS (
       | SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM exact)
       |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS refined_sim
       |FROM rr WHERE rank <= 3""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e15Kmeans]] — the
    * Lloyd iterations unrolled programmatically into a CTE chain: assign
    * (decimal-rounded dot argmax, lowest-centroid ties) and update
    * (per-dim exact-decimal sums, IEEE double mean) per round, then the
    * final assignment's bin stats with decimal-rounded centroid norms.
    */
  /** One nearest-trained-centroid assignment CTE (decimal argmax, lowest-id
    * ties) — duckdb mirror of `VectorQueries.assignTrained`; shared by the
    * e15 and e17 oracles.
    */
  private def kmeansAssignCte(name: String, cents: String): String =
    assignCteFrom(name, cents, "embeddings")

  /** [[kmeansAssignCte]] generalized to any (vec_id, embedding) source
    * relation — the IMI oracle assigns HALF-vector slices with it.
    */
  private def assignCteFrom(name: String, cents: String, src: String): String =
    s"""$name AS (
       | SELECT vec_id, embedding, centroid_id FROM (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |     CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |       i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]), 'sum')
       |      AS DECIMAL(20,6)) DESC,
       |     c.centroid_id ASC) AS rk
       |  FROM $src e, $cents c) t WHERE rk = 1)""".stripMargin

  /** The k-means training CTE chain (c0 demo seeds → `iters` assign/update
    * rounds → trained centroids in CTE `c<iters>`) — duckdb mirror of
    * [[graft.operators.VectorQueries.kmeansCentroids]]. No leading WITH so
    * callers can prepend their own CTEs.
    */
  /** duckdb mirror of [[graft.operators.TextQueries.d38BpeMerges]] — the
    * same `budget` rounds generated as a CTE chain: weighted adjacent-pair
    * counts, (count desc, pair asc) argmax via ORDER BY … LIMIT 1, greedy
    * leftmost re-segmentation with the identical gaps-and-islands
    * run-parity windows. Both engines must walk the same merge sequence —
    * any divergence in counting, tie-break, or greedy application breaks
    * every later row's hash.
    */
  private def d38OracleSql(budget: Int = 10): String =
    s"""WITH ${d38ChainCtes(budget)}
       |${(1 to budget).map(i => s"SELECT * FROM st$i").mkString("\nUNION ALL ")}""".stripMargin

  /** duckdb mirror of [[graft.operators.TextQueries.d39BpeTokenize]] —
    * the d38 chain's final segmentation applied back to the corpus token
    * stream (join fan-out = tokenization), censused per source.
    */
  private def d39OracleSql(budget: Int = 10): String =
    s"""WITH ${d38ChainCtes(budget)},
       |ctoks AS (
       | SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
       | FROM documents)
       |SELECT c.source, count(*) AS n_pieces,
       | count(DISTINCT s.sym) AS n_distinct_pieces,
       | CAST(sum(len(s.sym)) AS BIGINT) AS sum_piece_chars
       |FROM ctoks c JOIN seg$budget s ON s.w_id = c.w
       |WHERE len(c.w) > 0
       |GROUP BY c.source""".stripMargin

  /** The shared d38/d39/x2 CTE chain: char-split vocabulary seg0 through
    * `budget` merge rounds (seg$budget = the trained segmentation), plus
    * per-round st$i trajectory rows. No leading WITH, trailing comma
    * omitted — callers append their final SELECT. `src` is the corpus the
    * trainer reads (`documents` for d38/d39; x2 rebases it onto the x1
    * survivor CTE so the tokenizer trains on the CLEANED corpus).
    */
  private def d38ChainCtes(budget: Int, src: String = "documents"): String = {
    def round(i: Int): String = {
      val prev = s"seg${i - 1}"
      s"""p$i AS (
         | SELECT sym AS a, nxt AS b, sum(freq) AS cnt FROM (
         |  SELECT freq, sym,
         |   lead(sym) OVER (PARTITION BY w_id ORDER BY pos) AS nxt
         |  FROM $prev) t WHERE nxt IS NOT NULL GROUP BY sym, nxt),
         |b$i AS MATERIALIZED (
         | SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |x$i AS (
         | SELECT s.w_id, s.freq, s.pos, s.sym, b.a, b.b, b.cnt,
         |  lead(s.sym) OVER (PARTITION BY s.w_id ORDER BY s.pos) AS nxt,
         |  s.pos - row_number() OVER (PARTITION BY s.w_id, s.sym
         |                             ORDER BY s.pos) AS grp
         | FROM $prev s CROSS JOIN b$i b),
         |y$i AS (
         | SELECT *, (sym = a AND nxt IS NOT NULL AND nxt = b) AS mtch,
         |  row_number() OVER (PARTITION BY w_id, sym, grp ORDER BY pos) - 1
         |   AS runoff
         | FROM x$i),
         |z$i AS (
         | SELECT *, (mtch AND (a <> b OR runoff % 2 = 0)) AS active,
         |  lag(mtch AND (a <> b OR runoff % 2 = 0))
         |   OVER (PARTITION BY w_id ORDER BY pos) AS pactive
         | FROM y$i),
         |seg$i AS MATERIALIZED (
         | SELECT w_id, freq,
         |  row_number() OVER (PARTITION BY w_id ORDER BY pos) AS pos,
         |  CASE WHEN active THEN a || b ELSE sym END AS sym
         | FROM z$i WHERE NOT COALESCE(pactive, FALSE)),
         |st$i AS (
         | SELECT $i AS step, b.a, b.b, CAST(b.cnt AS BIGINT) AS cnt,
         |  (SELECT CAST(sum(freq) AS BIGINT) FROM seg$i) AS n_tokens,
         |  (SELECT count(DISTINCT sym) FROM seg$i) AS n_vocab
         | FROM b$i b)""".stripMargin
    }
    val rounds = (1 to budget).map(round).mkString(",\n")
    s"""toks AS (
       | SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       | FROM $src),
       |words AS (SELECT w, count(*) AS freq FROM toks
       |          WHERE len(w) > 0 GROUP BY w),
       |seg0 AS MATERIALIZED (
       | SELECT w_id, freq, CAST(pos AS INT) AS pos,
       |  substr(w_id, CAST(pos AS INT), 1) AS sym
       | FROM (SELECT w AS w_id, freq, unnest(range(1, len(w)+1)) AS pos
       |       FROM words) t),
       |$rounds""".stripMargin
  }

  private def kmeansChainSql(iters: Int): String =
    kmeansChainSqlFrom("", "embeddings", iters, 4)

  /** The Lloyd chain generalized: CTE names prefixed `$px`, vectors drawn
    * from `$src`, `k` seed centroids — the IMI oracle trains one chain
    * per half-vector slice with it (prefixes l/r).
    */
  private def kmeansChainSqlFrom(px: String, src: String, iters: Int,
      k: Int): String = {
    def updateCte(name: String, asg: String): String =
      s"""$name AS (
         | SELECT centroid_id, list(CAST(sum_v AS DOUBLE) / cnt ORDER BY pos) AS c
         | FROM (
         |  SELECT centroid_id, pos,
         |   sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,12))) AS sum_v,
         |   count(*) AS cnt
         |  FROM (SELECT centroid_id, unnest(range(0, len(embedding))) AS pos,
         |         unnest(embedding) AS v FROM $asg) x
         |  GROUP BY centroid_id, pos) m
         | GROUP BY centroid_id)""".stripMargin
    val rounds = (0 until iters).flatMap { t =>
      Seq(assignCteFrom(s"${px}a$t", s"${px}c$t", src),
        updateCte(s"${px}c${t + 1}", s"${px}a$t"))
    }.mkString(",\n")
    s"""${px}c0 AS (
       | SELECT CAST(vec_id AS INT) AS centroid_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       | FROM $src WHERE vec_id < $k),
       |$rounds""".stripMargin
  }

  /** Per-subspace assign CTE (max decimal sub-dot, lowest-centroid
    * tiebreak) — shared by the trained-PQ oracles.
    */
  private def pqAssignCte(name: String, cents: String): String =
    s"""$name AS (
       | SELECT vec_id, m, v, centroid_id FROM (
       |  SELECT s.vec_id, s.m, s.v, c.centroid_id,
       |   row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |     CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |       i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) DESC,
       |     c.centroid_id ASC) AS rk
       |  FROM sub s JOIN $cents c ON c.m = s.m) t WHERE rk = 1)""".stripMargin

  /** The trained-PQ CTE chain (subspace slices → per-subspace demo seeds →
    * `iters` Lloyd rounds → codebooks in CTE `pc<iters>`) — duckdb mirror
    * of [[graft.operators.VectorQueries.pqTrainedCodebooks]]; the e15
    * k-means chain with an `m` dimension. No leading WITH.
    */
  private def pqChainSql(iters: Int, kCode: Int = 4): String = {
    def updateCte(name: String, asg: String): String =
      s"""$name AS (
         | SELECT m, centroid_id,
         |  list(CAST(sum_v AS DOUBLE) / cnt ORDER BY pos) AS c
         | FROM (
         |  SELECT m, centroid_id, pos,
         |   sum(CAST(x AS DECIMAL(30,12))) AS sum_v, count(*) AS cnt
         |  FROM (SELECT m, centroid_id, unnest(range(0, len(v))) AS pos,
         |         unnest(v) AS x FROM $asg) q
         |  GROUP BY m, centroid_id, pos) z
         | GROUP BY m, centroid_id)""".stripMargin
    val rounds = (0 until iters).flatMap { t =>
      Seq(pqAssignCte(s"pa$t", s"pc$t"), updateCte(s"pc${t + 1}", s"pa$t"))
    }.mkString(",\n")
    s"""sub AS (
       | SELECT e.vec_id, CAST(t.m AS INT) AS m,
       |  list_transform(e.embedding[CAST(t.m*8+1 AS INT) : CAST(t.m*8+8 AS INT)],
       |    x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings e, (SELECT unnest(range(0, 8)) AS m) t),
       |pc0 AS (
       | SELECT m, CAST(vec_id AS INT) AS centroid_id, v AS c
       | FROM sub WHERE vec_id < $kCode),
       |$rounds""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e24TrainedPq]]. */
  private def e24OracleSql: String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${pqAssignCte("pafin", s"pc$iters")},
       |norms AS (
       | SELECT m, centroid_id,
       |  CAST(CAST(sqrt(list_aggregate(list_transform(c, x -> x * x), 'sum'))
       |   AS DECIMAL(20,6)) AS DOUBLE) AS centroid_norm
       | FROM pc$iters)
       |SELECT a.m, a.centroid_id, count(*) AS n_assigned,
       | CAST(sum(a.vec_id) AS BIGINT) AS sum_vec_ids, n.centroid_norm
       |FROM pafin a JOIN norms n USING (m, centroid_id)
       |GROUP BY a.m, a.centroid_id, n.centroid_norm""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e25TrainedPqSearch]]
    * — the relational ADC: codes join the query sub-dot table on
    * (m, code), scores sum exactly in decimal. Parameterized by codebook
    * size: kCode=4 is the e25 oracle, kCode=64 the e27 one (same chain).
    */
  private def e25OracleSql: String = e25OracleSqlK(4)

  private def e25OracleSqlK(kCode: Int): String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters, kCode)},
       |${pqAssignCte("pafin", s"pc$iters")},
       |codes AS (
       | SELECT vec_id AS neighbor_id, m, centroid_id FROM pafin),
       |qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s JOIN pc$iters c ON c.m = s.m WHERE s.vec_id < 10),
       |scored AS (
       | SELECT q.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM codes c
       | JOIN qd q ON q.m = c.m AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> q.query_id
       | GROUP BY q.query_id, c.neighbor_id),
       |ranked AS (
       | SELECT query_id, neighbor_id, sim_sum,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_sum DESC, neighbor_id ASC) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, CAST(sim_sum AS DOUBLE) AS tpq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e28TrainedNprobe]] —
    * e26's composed chains with a probe CTE (top-nprobe coarse centroids
    * per query, decimal-ranked) replacing the own-bin restriction.
    */
  private def e28OracleSql: String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg0", s"c$iters")},
       |bins AS (SELECT vec_id, centroid_id AS bin FROM casg0),
       |${pqAssignCte("pafin", s"pc$iters")},
       |codes AS (
       | SELECT p.vec_id AS neighbor_id, p.m, p.centroid_id, b.bin
       | FROM pafin p JOIN bins b ON b.vec_id = p.vec_id),
       |probes AS (
       | SELECT vec_id AS query_id, centroid_id AS bin FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |     CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |       i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]), 'sum')
       |      AS DECIMAL(20,6)) DESC,
       |     c.centroid_id ASC) AS rk
       |  FROM embeddings e, c$iters c WHERE e.vec_id < 10) t WHERE rk <= 2),
       |qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s JOIN pc$iters c ON c.m = s.m WHERE s.vec_id < 10),
       |scored AS (
       | SELECT pr.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM codes c
       | JOIN probes pr ON pr.bin = c.bin
       | JOIN qd q ON q.query_id = pr.query_id AND q.m = c.m
       |  AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> pr.query_id
       | GROUP BY pr.query_id, c.neighbor_id),
       |ranked AS (
       | SELECT query_id, neighbor_id, sim_sum,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_sum DESC, neighbor_id ASC) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, CAST(sim_sum AS DOUBLE) AS npq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e33FilteredPqServe]]
    * — e28's trained nprobe=2 ADC chain with the label predicate applied
    * to the candidate CODES (pre-filtering, the correctness-relevant
    * choice), shortlisted to the top 10 per query, then e30's exact
    * decimal-cosine re-rank to the final top-3.
    */
  private def e33OracleSql: String = e33OracleSqlWith("")

  /** e33's SQL with `extraCols` appended to the final SELECT — st23's
    * oracle is e33's verbatim plus the exactly-once commit count — and
    * `predSql` as the codes-CTE attribute predicate (e34 swaps in its
    * range predicate; everything else is shared, mirroring the engine
    * side's single parameterized filteredPqServeBatch plan).
    */
  private def e33OracleSqlWith(extraCols: String,
      predSql: String = "le.label IN (1, 3, 5)"): String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg0", s"c$iters")},
       |bins AS (SELECT vec_id, centroid_id AS bin FROM casg0),
       |${pqAssignCte("pafin", s"pc$iters")},
       |codes AS (
       | SELECT p.vec_id AS neighbor_id, p.m, p.centroid_id, b.bin
       | FROM pafin p JOIN bins b ON b.vec_id = p.vec_id
       | JOIN embeddings le ON le.vec_id = p.vec_id
       | WHERE $predSql),
       |probes AS (
       | SELECT vec_id AS query_id, centroid_id AS bin FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |     CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |       i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]), 'sum')
       |      AS DECIMAL(20,6)) DESC,
       |     c.centroid_id ASC) AS rk
       |  FROM embeddings e, c$iters c WHERE e.vec_id < 10) t WHERE rk <= 2),
       |qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s JOIN pc$iters c ON c.m = s.m WHERE s.vec_id < 10),
       |scored AS (
       | SELECT pr.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM codes c
       | JOIN probes pr ON pr.bin = c.bin
       | JOIN qd q ON q.query_id = pr.query_id AND q.m = c.m
       |  AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> pr.query_id
       | GROUP BY pr.query_id, c.neighbor_id),
       |shortl AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |                      ORDER BY sim_sum DESC, neighbor_id ASC) AS rk
       |  FROM scored) WHERE rk <= 10),
       |refsc AS (
       | SELECT s.query_id, s.neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM shortl s
       | JOIN embeddings q ON q.vec_id = s.query_id
       | JOIN embeddings n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, rank, neighbor_id,
       | CAST(sim_dec AS DOUBLE) AS refined_sim$extraCols
       |FROM (SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM refsc) WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e30TrainedRefine]]
    * — e28's trained ADC chain (nprobe=2) shortlisted to the top 10 per
    * query, the shortlist exact-cosine re-ranked, both stages' recall@3
    * against the exact brute CTE.
    */
  private def e30OracleSql: String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg0", s"c$iters")},
       |bins AS (SELECT vec_id, centroid_id AS bin FROM casg0),
       |${pqAssignCte("pafin", s"pc$iters")},
       |codes AS (
       | SELECT p.vec_id AS neighbor_id, p.m, p.centroid_id, b.bin
       | FROM pafin p JOIN bins b ON b.vec_id = p.vec_id),
       |probes AS (
       | SELECT vec_id AS query_id, centroid_id AS bin FROM (
       |  SELECT e.vec_id, c.centroid_id,
       |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |     CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |       i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]), 'sum')
       |      AS DECIMAL(20,6)) DESC,
       |     c.centroid_id ASC) AS rk
       |  FROM embeddings e, c$iters c WHERE e.vec_id < 10) t WHERE rk <= 2),
       |qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s JOIN pc$iters c ON c.m = s.m WHERE s.vec_id < 10),
       |scored AS (
       | SELECT pr.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM codes c
       | JOIN probes pr ON pr.bin = c.bin
       | JOIN qd q ON q.query_id = pr.query_id AND q.m = c.m
       |  AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> pr.query_id
       | GROUP BY pr.query_id, c.neighbor_id),
       |short AS (
       | SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |     ORDER BY sim_sum DESC, neighbor_id ASC) AS rk FROM scored)
       | WHERE rk <= 10),
       |adck AS (SELECT query_id, neighbor_id FROM short WHERE rk <= 3),
       |rer AS (
       | SELECT s.query_id, s.neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM short s
       | JOIN embeddings q ON q.vec_id = s.query_id
       | JOIN embeddings n ON n.vec_id = s.neighbor_id),
       |refk AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |     ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM rer)
       | WHERE rk <= 3),
       |dots AS (
       | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM embeddings q, embeddings n
       | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
       |brute AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |                      ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       |  FROM dots) WHERE rank <= 3)
       |SELECT 'adc' AS stage, CAST(count(*) AS BIGINT) AS sum_hits,
       | CAST(count(*) AS DOUBLE) / 30 AS avg_recall
       |FROM adck a JOIN brute b
       | ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
       |UNION ALL
       |SELECT 'refined', CAST(count(*) AS BIGINT),
       | CAST(count(*) AS DOUBLE) / 30
       |FROM refk r JOIN brute b
       | ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id""".stripMargin
  }

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.e29TrainedNprobeRecall]] — the
    * trained k-means chain's assignment RANKS swept over nprobe ∈ {1,2,4}
    * (e28's candidate generation), candidates scored exact-cosine (e16's
    * IVF-flat form), recall against the exact brute CTE.
    */
  private def e29OracleSql: String = {
    val iters = 2
    s"""WITH ${kmeansChainSql(iters)},
       |ranked AS (
       | SELECT e.vec_id, e.embedding, c.centroid_id,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]), 'sum')
       |     AS DECIMAL(20,6)) DESC,
       |    c.centroid_id ASC) AS rk
       | FROM embeddings e, c$iters c),
       |asg AS (SELECT vec_id AS neighbor_id, embedding, centroid_id AS bin
       |        FROM ranked WHERE rk = 1),
       |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
       |probes AS (
       | SELECT np.nprobe, r.vec_id AS query_id, r.embedding AS q_emb,
       |  r.centroid_id AS bin
       | FROM ranked r CROSS JOIN np
       | WHERE r.vec_id < 10 AND r.rk <= np.nprobe),
       |cand AS (
       | SELECT p.nprobe, p.query_id, a.neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(p.q_emb)+1),
       |     i -> CAST(p.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(p.q_emb,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM probes p JOIN asg a ON a.bin = p.bin
       | WHERE a.neighbor_id <> p.query_id),
       |topk AS (
       | SELECT nprobe, query_id, neighbor_id FROM (
       |  SELECT nprobe, query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY nprobe, query_id
       |     ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM cand)
       | WHERE rk <= 3),
       |dots AS (
       | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM embeddings q, embeddings n
       | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
       |brute AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |                      ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       |  FROM dots) WHERE rank <= 3),
       |hits AS (
       | SELECT t.nprobe, count(*) AS sum_hits
       | FROM topk t JOIN brute b
       |   ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
       | GROUP BY t.nprobe),
       |nq AS (SELECT nprobe, count(DISTINCT query_id) AS n_queries
       |       FROM probes GROUP BY nprobe),
       |nc AS (SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY nprobe)
       |SELECT nc.nprobe, nc.n_candidates,
       | CAST(COALESCE(h.sum_hits, 0) AS BIGINT) AS sum_hits,
       | CAST(COALESCE(h.sum_hits, 0) AS DOUBLE) / (nq.n_queries * 3)
       |  AS avg_recall
       |FROM nc
       |LEFT JOIN hits h ON h.nprobe = nc.nprobe
       |JOIN nq ON nq.nprobe = nc.nprobe""".stripMargin
  }

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.e26TrainedIvfPqFull]] — both training
    * chains composed (coarse c0..c2, fine sub/pc0..pc2 — disjoint CTE
    * names), candidates restricted to the query's coarse bin, relational
    * ADC scoring.
    */
  /** e26's own-bin ADC serving CTEs under the books at chain depth
    * `iters`, every CTE name prefixed `px` (final ranked CTE
    * `${px}ranked`). Assumes the shared subspace/pq/kmeans chains
    * (`sub`, `pc*`, `c*`) are already in scope — the iters=1 books
    * (pc1/c1) are a PREFIX of the iters=2 chain, so one chain serves
    * every training depth. Shared by [[e26OracleSql]] (one generation)
    * and [[st28OracleSql]] (both generations of the compressed swap) so
    * the ADC restatements cannot drift.
    */
  private def adcServeCtesAt(px: String, iters: Int): String =
    s"""${kmeansAssignCte(s"${px}casg", s"c$iters")},
       |${px}bins AS (SELECT vec_id, centroid_id AS bin FROM ${px}casg),
       |${pqAssignCte(s"${px}pafin", s"pc$iters")},
       |${px}codes AS (
       | SELECT p.vec_id AS neighbor_id, p.m, p.centroid_id, b.bin
       | FROM ${px}pafin p JOIN ${px}bins b ON b.vec_id = p.vec_id),
       |${px}qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id, b.bin,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s
       | JOIN pc$iters c ON c.m = s.m
       | JOIN ${px}bins b ON b.vec_id = s.vec_id
       | WHERE s.vec_id < 10),
       |${px}scored AS (
       | SELECT q.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM ${px}codes c
       | JOIN ${px}qd q ON q.bin = c.bin AND q.m = c.m
       |  AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> q.query_id
       | GROUP BY q.query_id, c.neighbor_id),
       |${px}ranked AS (
       | SELECT query_id, neighbor_id, sim_sum,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_sum DESC, neighbor_id ASC) AS rank
       | FROM ${px}scored)""".stripMargin

  private def e26OracleSql: String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${kmeansChainSql(iters)},
       |${adcServeCtesAt("", iters)}
       |SELECT query_id, rank, neighbor_id, CAST(sim_sum AS DOUBLE) AS fivfpq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.st28StreamingPqGenerationSwap]] —
    * e26's ADC serving under BOTH training depths of the shared chain:
    * gen 1 = the one-round books (pc1/c1), gen 2 = the production
    * two-round books (pc2/c2). Each generation's rows come from exactly
    * 2 of the 4 serving batches and the result log records 4 keyed
    * commits; the union only matches if every batch decoded codes with
    * exactly the books they were encoded under (the ADC garbage mode a
    * torn codes/books swap would produce has no row here to hide in).
    */
  private def st28OracleSql: String =
    s"""WITH ${pqChainSql(2)},
       |${kmeansChainSql(2)},
       |${adcServeCtesAt("g1", 1)},
       |${adcServeCtesAt("g2", 2)}
       |SELECT 1 AS gen, query_id, rank, neighbor_id,
       | CAST(sim_sum AS DOUBLE) AS fivfpq_sim,
       | 2 AS n_gen_batches, 4 AS n_commits
       |FROM g1ranked WHERE rank <= 3
       |UNION ALL
       |SELECT 2 AS gen, query_id, rank, neighbor_id,
       | CAST(sim_sum AS DOUBLE) AS fivfpq_sim,
       | 2 AS n_gen_batches, 4 AS n_commits
       |FROM g2ranked WHERE rank <= 3""".stripMargin

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.st22StreamingPqServe]] — e26's
    * trained IVF-PQ ADC chain kept to shortlist width (10), re-ranked by
    * the exact decimal cosine over the shortlist pairs (e30's refine
    * arithmetic), top-3 per query; `n_commits` pins one batchId-keyed
    * result commit per arrival file.
    */
  private def st22OracleSql: String = {
    val iters = 2
    s"""WITH ${pqChainSql(iters)},
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg0", s"c$iters")},
       |bins AS (SELECT vec_id, centroid_id AS bin FROM casg0),
       |${pqAssignCte("pafin", s"pc$iters")},
       |codes AS (
       | SELECT p.vec_id AS neighbor_id, p.m, p.centroid_id, b.bin
       | FROM pafin p JOIN bins b ON b.vec_id = p.vec_id),
       |qd AS (
       | SELECT s.vec_id AS query_id, s.m, c.centroid_id, b.bin,
       |  CAST(list_aggregate(list_transform(range(1, len(s.v)+1),
       |    i -> s.v[i] * c.c[i]), 'sum') AS DECIMAL(20,6)) AS qd
       | FROM sub s
       | JOIN pc$iters c ON c.m = s.m
       | JOIN bins b ON b.vec_id = s.vec_id
       | WHERE s.vec_id < 10),
       |scored AS (
       | SELECT q.query_id, c.neighbor_id, sum(q.qd) AS sim_sum
       | FROM codes c
       | JOIN qd q ON q.bin = c.bin AND q.m = c.m
       |  AND q.centroid_id = c.centroid_id
       | WHERE c.neighbor_id <> q.query_id
       | GROUP BY q.query_id, c.neighbor_id),
       |shortl AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |                      ORDER BY sim_sum DESC, neighbor_id ASC) AS rk
       |  FROM scored) WHERE rk <= 10),
       |refsc AS (
       | SELECT s.query_id, s.neighbor_id,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
       |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(q.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(n.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM shortl s
       | JOIN embeddings q ON q.vec_id = s.query_id
       | JOIN embeddings n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, rank, neighbor_id,
       | CAST(sim_dec AS DOUBLE) AS refined_sim, 4 AS n_commits
       |FROM (SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM refsc) WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.DedupQueries.d36SemanticDedup]] —
    * the trained-assignment CTE chain feeding within-bin pairwise cosine
    * (e5's decimal formula) and the pairwise keep-smallest-id rule.
    */
  /** duckdb mirror of [[graft.operators.CorpusPipeline.x1CorpusPipeline]] —
    * the WHOLE corpus-build chain as one WITH cascade: d27+d14 filter,
    * d1 exact keep, the d13 LSH chain re-rooted on the survivor corpus
    * (`lshCandCtesFrom`), the d36 flat-k semantic chain restricted to
    * survivors, d25 decontamination, d33 split, d23 packing, per-split
    * census. `snapshot_version` is the constant 1 the engine's fresh
    * SnapshotLog commit must produce.
    */
  /** Rewrite every CTE definition in `sql` to `AS MATERIALIZED`: DuckDB
    * inlines CTEs by default, and in a deep multi-reference chain like
    * x1's each re-reference re-computes its ENTIRE upstream — measured
    * 10+ minutes for the x1 oracle at sf0.001 inlined vs 0.6 s
    * materialized, with identical results. Applied only to the composed-
    * pipeline oracle; the single-operator oracles are shallow enough not
    * to need it.
    */
  private def materializeCtes(sql: String): String =
    sql.replaceAll("(?m)^(\\s*,?\\s*)([a-zA-Z_][a-zA-Z0-9_]*) AS \\(",
      "$1$2 AS MATERIALIZED (")

  private def x1OracleSql: String = materializeCtes(x1OracleSqlInlined)

  /** st19 (streaming corpus build) restates x1's WHOLE chain verbatim —
    * streaming must equal batch — with the final constant column swapped:
    * x1 commits one snapshot (version 1); st19 commits one state version
    * per micro-batch (4 arrival files => 4 commits, pinning exactly-once).
    * Since r20 the freeze also emits x3's sequence-cut bookkeeping (the
    * trainer handoff), so the oracle joins x1's census with x3's packing
    * census per split — both over the SAME surv4 CTE, so the streaming ≡
    * batch claim now covers the packing stage too.
    */
  private def st19OracleSql: String = {
    val full = x1ChainSql("4 AS n_commits")
    val selStart = full.indexOf("SELECT split, count(*) AS n_docs,")
    require(selStart > 0,
      "x1ChainSql shape changed: census-select marker not found")
    val ctes = full.substring(0, selStart)
    val x1Sel = full.substring(selStart)
    materializeCtes(
      ctes + ",\nx1c AS (\n" + x1Sel + "\n),\n" + x3PackCtes(10) +
        ",\nx3c AS (\n" + x3CensusSelect("n_packed_docs") + ")\n" +
        """SELECT x1c.*, x3c.n_packed_docs, x3c.tot_pieces, x3c.n_seqs,
          | x3c.n_straddlers, x3c.sum_start_seq, x3c.sum_end_seq,
          | x3c.n_aligned_ends, x3c.last_seq_len
          |FROM x1c JOIN x3c ON x3c.split = x1c.split""".stripMargin)
  }

  private def x1OracleSqlInlined: String = x1ChainSql("1 AS snapshot_version")

  /** x2 (BPE-tokenized corpus): x1's survivor chain — the verbatim CTE
    * prefix of [[x1ChainSql]], cut before its packing CTEs — composed with
    * the d38 merge chain rebased onto `surv4` (the tokenizer trains on the
    * CLEANED corpus; an engine training on the raw table diverges here),
    * then the piece census per d33 split. The prefix is extracted by
    * marker rather than duplicated so x1/st19/x2 can never drift apart.
    */
  private def x2OracleSql(budget: Int = 10): String = {
    val full = x1ChainSql("0 AS unused")
    val cut = full.indexOf(",\nsp AS (")
    require(cut > 0, "x1ChainSql shape changed: packing-CTE marker not found")
    val prefix = full.substring(0, cut)
    // stripMargin runs on the TAIL template only — re-stripping the
    // already-stripped prefix would eat the first pipe of its
    // continuation lines that begin with `||` (string concatenation)
    val tail = s""",
       |${d38ChainCtes(budget, "surv4")},
       |csp AS (
       | SELECT doc_id, text,
       |  CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 80
       |       THEN 'train'
       |       WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 90
       |       THEN 'valid' ELSE 'test' END AS split
       | FROM surv4),
       |ctoks AS (
       | SELECT split, unnest(string_split_regex(trim(text), '\\s+')) AS w
       | FROM csp)
       |SELECT c.split, count(*) AS n_pieces,
       | count(DISTINCT s.sym) AS n_distinct_pieces,
       | CAST(sum(len(s.sym)) AS BIGINT) AS sum_piece_chars
       |FROM ctoks c JOIN seg$budget s ON s.w_id = c.w
       |WHERE len(c.w) > 0
       |GROUP BY c.split""".stripMargin
    materializeCtes(prefix + tail)
  }

  /** x3 (sequence packing): x2's survivor-chain + merge-chain prefix, then
    * per-doc piece counts, the plain per-split running piece sum (the
    * engine's two-pass distributed prefix sum computes the identical
    * integers), and the per-split pack census: sequence/straddler/boundary
    * bookkeeping at [[graft.operators.CorpusPipeline.X3SeqLen]] pieces per
    * sequence. sum_start_seq/sum_end_seq pin every document's placement in
    * sequence space; n_seqs + tot_pieces + last_seq_len pin the
    * per-sequence piece counts (every non-tail sequence holds exactly L).
    */
  private def x3OracleSql(budget: Int = 10): String = {
    val full = x1ChainSql("0 AS unused")
    val cut = full.indexOf(",\nsp AS (")
    require(cut > 0, "x1ChainSql shape changed: packing-CTE marker not found")
    val prefix = full.substring(0, cut)
    materializeCtes(prefix + ",\n" + x3PackCtes(budget) + "\n" +
      x3CensusSelect("n_docs"))
  }

  /** x3's packing CTEs rebased on `surv4` — the d38 merge chain, per-doc
    * piece counts, the plain per-split running sum (the engine's two-pass
    * prefix sum computes identical integers), and the per-doc placement.
    * No leading/trailing comma. Shared by [[x3OracleSql]],
    * `x4_persisted_pack_map` (same SQL), and [[st19OracleSql]]'s freeze
    * extension so the packing restatements can never drift.
    */
  private def x3PackCtes(budget: Int): String = {
    val L = graft.operators.CorpusPipeline.X3SeqLen
    s"""${d38ChainCtes(budget, "surv4")},
       |xsp AS (
       | SELECT doc_id, text,
       |  CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 80
       |       THEN 'train'
       |       WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 90
       |       THEN 'valid' ELSE 'test' END AS split
       | FROM surv4),
       |xtoks AS (
       | SELECT doc_id, split,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS w
       | FROM xsp),
       |xdp AS (
       | SELECT d.doc_id, d.split, count(*) AS n
       | FROM xtoks d JOIN seg$budget s ON s.w_id = d.w
       | WHERE len(d.w) > 0
       | GROUP BY d.doc_id, d.split),
       |xcum AS (
       | SELECT doc_id, split, n,
       |  sum(n) OVER (PARTITION BY split ORDER BY doc_id) AS cum
       | FROM xdp),
       |xplaced AS (
       | SELECT split, doc_id, n, cum,
       |  (cum - n) // $L AS start_seq, (cum - 1) // $L AS end_seq
       | FROM xcum)""".stripMargin
  }

  /** x3's per-split pack census over `xplaced`, with the doc-count alias
    * parameterized (x3/x4 name it `n_docs`; st19's joined form renames to
    * `n_packed_docs` to avoid clashing with x1's census column).
    */
  private def x3CensusSelect(nDocsAlias: String): String = {
    val L = graft.operators.CorpusPipeline.X3SeqLen
    s"""SELECT split, count(*) AS $nDocsAlias,
       | CAST(sum(n) AS BIGINT) AS tot_pieces,
       | CAST((max(cum) + $L - 1) // $L AS BIGINT) AS n_seqs,
       | CAST(sum(CASE WHEN end_seq > start_seq THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_straddlers,
       | CAST(sum(start_seq) AS BIGINT) AS sum_start_seq,
       | CAST(sum(end_seq) AS BIGINT) AS sum_end_seq,
       | CAST(sum(CASE WHEN cum % $L = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_aligned_ends,
       | CAST(max(cum) - ((max(cum) + $L - 1) // $L - 1) * $L AS BIGINT)
       |  AS last_seq_len
       |FROM xplaced GROUP BY split""".stripMargin
  }

  private def x1ChainSql(finalCol: String): String = {
    val iters = 2
    s"""WITH sal AS (
       | SELECT doc_id, source,
       |  text || ' contact user' || CAST(h % 1000 AS VARCHAR)
       |   || '@example.com call +1-555-'
       |   || lpad(CAST(h % 10000 AS VARCHAR), 4, '0')
       |   || ' from 10.0.' || CAST(h % 256 AS VARCHAR) || '.7' AS raw
       | FROM (SELECT doc_id, source, text,
       |        CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
       |       FROM documents) s0),
       |red AS (
       | SELECT doc_id, source,
       |  regexp_replace(regexp_replace(regexp_replace(raw,
       |    '\\+1-555-[0-9]{4}', '<PHONE>', 'g'),
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS text
       | FROM sal),
       |scored AS (
       | SELECT doc_id, text, source,
       |  CAST(-2.0 AS DOUBLE) + CAST(0.004 AS DOUBLE) * length(text)
       |   - CAST(0.05 AS DOUBLE) * len(string_split_regex(trim(text), '\\s+'))
       |   + CAST(0.02 AS DOUBLE) * length(regexp_replace(text, '[^aeiou]', '', 'g'))
       |   - CAST(0.8 AS DOUBLE) * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
       |   AS logit,
       |  CAST((length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3 AS BIGINT)
       |   + CAST((length(lower(text)) - length(replace(lower(text), 'and', ''))) / 3 AS BIGINT)
       |   + CAST((length(lower(text)) - length(replace(lower(text), 'ing', ''))) / 3 AS BIGINT) AS tri_en,
       |  CAST((length(lower(text)) - length(replace(lower(text), 'dat', ''))) / 3 AS BIGINT)
       |   + CAST((length(lower(text)) - length(replace(lower(text), 'tab', ''))) / 3 AS BIGINT)
       |   + CAST((length(lower(text)) - length(replace(lower(text), 'row', ''))) / 3 AS BIGINT) AS tri_data
       | FROM red),
       |filt AS (
       | SELECT doc_id, text, source FROM scored
       | WHERE logit > -2.0 AND tri_data <= 5 * tri_en),
       |ftoks AS (
       | SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM filt),
       |funi AS (
       | SELECT token AS w, count(*) AS uc FROM (
       |  SELECT unnest(t) AS token FROM ftoks) x GROUP BY 1),
       |fvocab AS (SELECT count(*) AS v FROM funi),
       |fp0 AS (
       | SELECT doc_id, t, unnest(range(1, len(t))) AS i
       | FROM ftoks WHERE len(t) >= 2),
       |fpl AS (
       | SELECT doc_id, t[CAST(i AS INT)] AS prev, t[CAST(i + 1 AS INT)] AS w
       | FROM fp0),
       |fbig AS (SELECT prev, w, count(*) AS bc FROM fpl GROUP BY 1, 2),
       |fsc AS (
       | SELECT p.doc_id,
       |  CAST(CAST(b.bc + 1 AS DOUBLE) / CAST(u.uc + v.v AS DOUBLE)
       |   AS DECIMAL(20,10)) AS pr,
       |  v.v AS v
       | FROM fpl p
       | JOIN fbig b ON b.prev = p.prev AND b.w = p.w
       | JOIN funi u ON u.w = p.prev
       | CROSS JOIN fvocab v),
       |disfluent AS (
       | SELECT doc_id FROM (
       |  SELECT doc_id, CAST(sum(pr) AS DOUBLE) / count(*) AS avg_p,
       |   max(v) AS v
       |  FROM fsc GROUP BY doc_id) g
       | WHERE avg_p * v < 2.8),
       |surv0 AS (
       | SELECT f.doc_id, f.text, f.source FROM filt f
       | WHERE NOT EXISTS (SELECT 1 FROM disfluent d WHERE d.doc_id = f.doc_id)),
       |exact_keep AS (
       | SELECT min(doc_id) AS doc_id FROM surv0 GROUP BY md5(text)),
       |surv1 AS (
       | SELECT f.doc_id, f.text, f.source FROM surv0 f JOIN exact_keep k USING (doc_id)),
       |${lshCandCtesFrom("surv1", stopSrc = Some("filt"))},
       |${lshPairsCteFrom("bsh")},
       |losers AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jaccard >= 0.5),
       |surv2 AS (
       | SELECT s.doc_id, s.text, s.source FROM surv1 s
       | WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = s.doc_id)),
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg", s"c$iters")},
       |bins AS (
       | SELECT vec_id, embedding, centroid_id AS bin FROM casg
       | WHERE vec_id IN (SELECT doc_id FROM surv2)),
       |spairs AS (
       | SELECT a.bin, a.vec_id AS id_a, b.vec_id AS id_b,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(a.embedding)+1),
       |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(b.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM bins a JOIN bins b ON a.bin = b.bin AND a.vec_id < b.vec_id),
       |sremoved AS (
       | SELECT DISTINCT id_b AS doc_id FROM spairs WHERE sim_dec >= 0.25),
       |surv3 AS (
       | SELECT s.doc_id, s.text, s.source FROM surv2 s
       | WHERE NOT EXISTS (SELECT 1 FROM sremoved r WHERE r.doc_id = s.doc_id)),
       |toks3 AS (
       | SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM surv3),
       |sh5 AS (
       | SELECT DISTINCT doc_id,
       |  CAST('0x' || substr(md5(
       |    array_to_string(list_slice(t, i, i + 4), ' ')), 1, 15)
       |   AS BIGINT) AS h
       | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
       |       FROM toks3 WHERE len(t) >= 5) u),
       |evh AS (SELECT DISTINCT h FROM sh5 WHERE doc_id % 40 = 0),
       |contaminated AS (
       | SELECT s.doc_id FROM sh5 s JOIN evh e ON s.h = e.h
       | WHERE s.doc_id % 40 <> 0
       | GROUP BY s.doc_id HAVING count(*) >= 3),
       |surv4 AS (
       | SELECT s.doc_id, s.text, s.source FROM surv3 s
       | WHERE s.doc_id % 40 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = s.doc_id)),
       |sp AS (
       | SELECT doc_id, source,
       |  CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h60,
       |  len(string_split_regex(trim(text), '\\s+')) AS n,
       |  CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 80
       |       THEN 'train'
       |       WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < 90
       |       THEN 'valid' ELSE 'test' END AS split
       | FROM surv4),
       |pk AS (
       | SELECT *, sum(n) OVER (PARTITION BY split, source ORDER BY doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS cum
       | FROM sp)
       |SELECT split, count(*) AS n_docs,
       | CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       | CAST(sum(n) AS BIGINT) AS tot_tokens,
       | CAST(count(DISTINCT source || '|' || CAST((cum - n) // 2048 AS VARCHAR))
       |  AS BIGINT) AS n_bins,
       | bit_xor(h60) AS census_hash,
       | $finalCol
       |FROM pk GROUP BY split""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.d41ImiCobinRecall]] —
    * the flat k=16 chain's within-bin >=0.25 pairs, joined against the d40
    * IMI (two half-vector kSide=4 chains) bin of each endpoint.
    */
  private def d41OracleSql: String = {
    val iters = 2
    val k = 16
    val kSide = 4
    s"""WITH ${kmeansChainSqlFrom("f", "embeddings", iters, k)},
       |${assignCteFrom("fasg", s"fc$iters", "embeddings")},
       |fbins AS (SELECT vec_id, embedding, centroid_id AS bin FROM fasg),
       |fpairs AS (
       | SELECT a.vec_id AS id_a, b.vec_id AS id_b
       | FROM fbins a JOIN fbins b ON a.bin = b.bin AND a.vec_id < b.vec_id
       | WHERE CAST(
       |   list_aggregate(list_transform(range(1, len(a.embedding)+1),
       |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(a.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(b.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) >= 0.25),
       |lh AS (
       | SELECT vec_id, list_slice(embedding, 1, len(embedding) // 2)
       |  AS embedding FROM embeddings),
       |rh AS (
       | SELECT vec_id, list_slice(embedding, len(embedding) // 2 + 1,
       |  len(embedding)) AS embedding FROM embeddings),
       |${kmeansChainSqlFrom("l", "lh", iters, kSide)},
       |${kmeansChainSqlFrom("r", "rh", iters, kSide)},
       |${assignCteFrom("lasg", s"lc$iters", "lh")},
       |${assignCteFrom("rasg", s"rc$iters", "rh")},
       |ibins AS (
       | SELECT l.vec_id, CAST(l.centroid_id * $kSide + r.centroid_id AS INT) AS ibin
       | FROM lasg l JOIN rasg r ON r.vec_id = l.vec_id)
       |SELECT count(*) AS n_flat_pairs,
       | CAST(sum(CASE WHEN ia.ibin = ib.ibin THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_cobinned,
       | CAST(CAST(CAST(sum(CASE WHEN ia.ibin = ib.ibin THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS DECIMAL(10,6)) AS DOUBLE) AS cobin_recall
       |FROM fpairs p
       |JOIN ibins ia ON ia.vec_id = p.id_a
       |JOIN ibins ib ON ib.vec_id = p.id_b""".stripMargin
  }

  private def d36OracleSql: String = {
    val iters = 2
    s"""WITH ${kmeansChainSql(iters)},
       |${kmeansAssignCte("casg", s"c$iters")},
       |bins AS (SELECT vec_id, embedding, centroid_id AS bin FROM casg),
       |$semDedupTailSql""".stripMargin
  }

  /** The d36/d40 shared tail: within-bin pairwise decimal cosine over a
    * CTE named `bins` (vec_id, embedding, bin), keep-smallest-id removal,
    * per-bin census. No leading WITH/comma.
    */
  private def semDedupTailSql: String =
    """pairs AS (
      | SELECT a.bin, a.vec_id AS id_a, b.vec_id AS id_b,
      |  CAST(
      |   list_aggregate(list_transform(range(1, len(a.embedding)+1),
      |     i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum') /
      |   (sqrt(list_aggregate(list_transform(a.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
      |    sqrt(list_aggregate(list_transform(b.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
      |  AS DECIMAL(20,6)) AS sim_dec
      | FROM bins a JOIN bins b ON a.bin = b.bin AND a.vec_id < b.vec_id),
      |removed AS (
      | SELECT DISTINCT bin, id_b AS vec_id FROM pairs WHERE sim_dec >= 0.25)
      |SELECT b.bin, count(*) AS n_vectors,
      | CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_removed,
      | CAST(sum(CASE WHEN r.vec_id IS NULL THEN b.vec_id END) AS BIGINT)
      |  AS sum_survivor_ids
      |FROM bins b LEFT JOIN removed r ON r.bin = b.bin AND r.vec_id = b.vec_id
      |GROUP BY b.bin""".stripMargin

  /** duckdb mirror of d36's IMI (k > 4) binning, forced to gate scale by
    * d40 (k = 16 ⇒ kSide = 4): the vector splits into halves, each half
    * trains its OWN Lloyd chain (the kmeans chain over a sliced source),
    * bin = left cell · kSide + right cell, then the d36 tail verbatim.
    * This is the oracle for the SCALE path — the slope run times it, this
    * proves it computes the same dedup semantics.
    */
  private def d40OracleSql: String = {
    val iters = 2
    val kSide = 4
    s"""WITH lh AS (
       | SELECT vec_id, list_slice(embedding, 1, len(embedding) // 2)
       |  AS embedding FROM embeddings),
       |rh AS (
       | SELECT vec_id, list_slice(embedding, len(embedding) // 2 + 1,
       |  len(embedding)) AS embedding FROM embeddings),
       |${kmeansChainSqlFrom("l", "lh", iters, kSide)},
       |${kmeansChainSqlFrom("r", "rh", iters, kSide)},
       |${assignCteFrom("lasg", s"lc$iters", "lh")},
       |${assignCteFrom("rasg", s"rc$iters", "rh")},
       |bins AS (
       | SELECT e.vec_id, e.embedding,
       |  CAST(l.centroid_id * $kSide + r.centroid_id AS INT) AS bin
       | FROM embeddings e
       | JOIN lasg l ON l.vec_id = e.vec_id
       | JOIN rasg r ON r.vec_id = e.vec_id),
       |$semDedupTailSql""".stripMargin
  }

  private def e15OracleSql: String = {
    val iters = 2
    s"""WITH ${kmeansChainSql(iters)},
       |${kmeansAssignCte("afin", s"c$iters")},
       |norms AS (
       | SELECT centroid_id,
       |  CAST(CAST(sqrt(list_aggregate(list_transform(c, x -> x * x), 'sum'))
       |   AS DECIMAL(20,6)) AS DOUBLE) AS centroid_norm
       | FROM c$iters)
       |SELECT a.centroid_id, count(*) AS n_assigned,
       | CAST(sum(a.vec_id) AS BIGINT) AS sum_vec_ids, n.centroid_norm
       |FROM afin a JOIN norms n USING (centroid_id)
       |GROUP BY a.centroid_id, n.centroid_norm""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e17TrainedIvfPq]] —
    * the e15 training chain's trained centroids drive the coarse
    * assignment, then e14's IVF-PQ search pipeline unchanged.
    */
  private def e17OracleSql: String = {
    val iters = 2
    val (cDefs, codeArr, scoreTerms) = pqSqlPieces
    s"""WITH cents AS (
       | SELECT $cDefs),
       |${kmeansChainSql(iters)},
       |${kmeansAssignCte("tasg0", s"c$iters")},
       |tasg AS (SELECT vec_id, centroid_id FROM tasg0),
       |codes AS (
       | SELECT e.vec_id AS neighbor_id, $codeArr AS code
       | FROM embeddings e, cents s),
       |scored AS (
       | SELECT q.vec_id AS query_id, c.neighbor_id,
       |  CAST($scoreTerms AS DECIMAL(24,6)) AS sim_dec
       | FROM embeddings q
       | JOIN tasg qa ON qa.vec_id = q.vec_id
       | JOIN tasg na ON na.centroid_id = qa.centroid_id
       | JOIN codes c ON c.neighbor_id = na.vec_id, cents s
       | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
       |ranked AS (
       | SELECT query_id, neighbor_id, sim_dec,
       |  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS tivfpq_sim
       |FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.DedupQueries.e16NprobeRecall]] —
    * e7's brute/IVF composition with the assignment RANKS kept, swept over
    * nprobe ∈ {1, 2, 4}.
    */
  private def e16OracleSql: String =
    """WITH dots AS (
      | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |  CAST(
      |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
      |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
      |   (sqrt(list_aggregate(list_transform(q.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
      |    sqrt(list_aggregate(list_transform(n.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
      |  AS DECIMAL(20,6)) AS sim_dec
      | FROM embeddings q, embeddings n
      | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
      |brute AS (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |                      ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
      |  FROM dots) WHERE rank <= 3),
      |ivfc AS (
      | SELECT vec_id AS centroid_id, embedding AS c_emb
      | FROM embeddings WHERE vec_id < 4),
      |asg0 AS (
      | SELECT e.vec_id, c.centroid_id,
      |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |   CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      |     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
      |    AS DECIMAL(20,6)) DESC, c.centroid_id ASC) AS a_rk
      | FROM embeddings e, ivfc c),
      |asg AS (SELECT vec_id, centroid_id FROM asg0 WHERE a_rk = 1),
      |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
      |cand AS (
      | SELECT np.nprobe, p.vec_id AS query_id, a.vec_id AS neighbor_id
      | FROM asg0 p CROSS JOIN np
      | JOIN asg a ON a.centroid_id = p.centroid_id
      | WHERE p.vec_id < 10 AND p.a_rk <= np.nprobe AND a.vec_id <> p.vec_id),
      |scored AS (
      | SELECT c.nprobe, c.query_id, c.neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.embedding)+1),
      |    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM cand c
      | JOIN embeddings q ON q.vec_id = c.query_id
      | JOIN embeddings n ON n.vec_id = c.neighbor_id),
      |topk AS (
      | SELECT nprobe, query_id, neighbor_id FROM (
      |  SELECT nprobe, query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY nprobe, query_id
      |     ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM scored)
      | WHERE rk <= 3),
      |hits AS (
      | SELECT t.nprobe, count(*) AS sum_hits
      | FROM topk t JOIN brute b
      |   ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
      | GROUP BY t.nprobe),
      |nc AS (SELECT nprobe, count(*) AS n_candidates FROM cand GROUP BY nprobe)
      |SELECT nc.nprobe, nc.n_candidates,
      | CAST(COALESCE(h.sum_hits, 0) AS BIGINT) AS sum_hits,
      | CAST(COALESCE(h.sum_hits, 0) AS DOUBLE) / 30 AS avg_recall
      |FROM nc LEFT JOIN hits h ON h.nprobe = nc.nprobe""".stripMargin

  /** duckdb mirror of [[graft.operators.RelationalQueries.q37Zorder]] —
    * identical bit-interleave arithmetic, `//` for the integral division.
    */
  private def q37OracleSql: String = {
    val hi = "((epoch_us(ts) // 3600000000) % 720)"
    val terms = (0 until 16).map { j =>
      s"((((user_id & 65535) >> $j) & 1) * ${1L << (2 * j)} + " +
        s"((($hi & 65535) >> $j) & 1) * ${1L << (2 * j + 1)})"
    }.mkString(" + ")
    s"""WITH z AS (
       | SELECT event_id, user_id, $hi AS hour_idx,
       |  ($terms) AS zval
       | FROM events)
       |SELECT zval >> 14 AS z_bucket, count(*) AS cnt,
       | min(user_id) AS min_user, max(user_id) AS max_user,
       | min(hour_idx) AS min_hour, max(hour_idx) AS max_hour
       |FROM z GROUP BY zval >> 14""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e12QuantRecall]] —
    * the e2 (exact), e10 (SQ8), and e11 (PQ) top-3 pipelines rebuilt as
    * prefixed CTE chains and composed into per-query hit counts.
    */
  private def e12OracleSql: String = {
    val dot =
      """list_aggregate(list_transform(range(1, len(q.embedding)+1),
        |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
        |   (sqrt(list_aggregate(list_transform(q.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
        |    sqrt(list_aggregate(list_transform(n.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))""".stripMargin
    // PQ pieces (same constants as e11OracleSql)
    val M = 8; val sub = 8; val K = 4
    def sdec(vec: String, cArr: String, m: Int): String = {
      val terms = (1 to sub).map(i =>
        s"CAST($vec[${m * sub + i}] AS DOUBLE) * CAST($cArr[${m * sub + i}] AS DOUBLE)")
        .mkString(" + ")
      s"CAST($terms AS DECIMAL(20,6))"
    }
    def codeM(m: Int): String = {
      val s = (0 until K).map(c => sdec("e.embedding", s"s.c$c", m))
      s"CASE WHEN ${s(0)} >= ${s(1)} AND ${s(0)} >= ${s(2)} AND ${s(0)} >= ${s(3)} THEN 0 " +
        s"WHEN ${s(1)} >= ${s(2)} AND ${s(1)} >= ${s(3)} THEN 1 " +
        s"WHEN ${s(2)} >= ${s(3)} THEN 2 ELSE 3 END"
    }
    val pqCodeArr = (0 until M).map(codeM).mkString("[", ",\n", "]")
    val pqScore = (0 until M).map { m =>
      val qd = (0 until K).map(c => sdec("q.embedding", s"s.c$c", m))
      s"CASE WHEN c.code[${m + 1}] = 0 THEN ${qd(0)} WHEN c.code[${m + 1}] = 1 THEN ${qd(1)} " +
        s"WHEN c.code[${m + 1}] = 2 THEN ${qd(2)} ELSE ${qd(3)} END"
    }.mkString(" + ")
    val pqCents = (0 until K).map(c =>
      s"(SELECT embedding FROM embeddings WHERE vec_id = $c) AS c$c").mkString(",\n  ")
    s"""WITH e2dots AS (
       | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |  CAST($dot AS DECIMAL(20,6)) AS sim_dec
       | FROM embeddings q, embeddings n
       | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
       |e2top AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM e2dots) WHERE rk <= 3),
       |sq_ex AS (
       | SELECT unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS v
       | FROM embeddings),
       |sq_st AS (
       | SELECT pos, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
       | FROM sq_ex GROUP BY pos),
       |sq_stats AS (
       | SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
       | FROM sq_st),
       |sq_codes AS (
       | SELECT e.vec_id AS neighbor_id,
       |  list_transform(range(1, 65), i ->
       |   CASE WHEN s.maxs[i] - s.mins[i] = 0.0 THEN 0
       |        ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - s.mins[i]) /
       |                        (s.maxs[i] - s.mins[i]) * 255.0) AS BIGINT)
       |   END) AS code
       | FROM embeddings e, sq_stats s),
       |sq_scored AS (
       | SELECT q.vec_id AS query_id, c.neighbor_id,
       |  CAST(list_aggregate(list_transform(range(1, 65), i ->
       |    CAST(q.embedding[i] AS DOUBLE) *
       |    (s.mins[i] + c.code[i] * (s.maxs[i] - s.mins[i]) / 255.0)), 'sum')
       |   AS DECIMAL(20,6)) AS sim_dec
       | FROM embeddings q, sq_codes c, sq_stats s
       | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
       |sqtop AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM sq_scored) WHERE rk <= 3),
       |pq_cents AS (
       | SELECT $pqCents),
       |pq_codes AS (
       | SELECT e.vec_id AS neighbor_id, $pqCodeArr AS code
       | FROM embeddings e, pq_cents s),
       |pq_scored AS (
       | SELECT q.vec_id AS query_id, c.neighbor_id,
       |  CAST($pqScore AS DECIMAL(24,6)) AS sim_dec
       | FROM embeddings q, pq_codes c, pq_cents s
       | WHERE q.vec_id < 10 AND c.neighbor_id <> q.vec_id),
       |pqtop AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rk FROM pq_scored) WHERE rk <= 3),
       |j1 AS (
       | SELECT b.query_id, count(*) AS sq_hits
       | FROM e2top b JOIN sqtop t USING (query_id, neighbor_id) GROUP BY b.query_id),
       |j2 AS (
       | SELECT b.query_id, count(*) AS pq_hits
       | FROM e2top b JOIN pqtop t USING (query_id, neighbor_id) GROUP BY b.query_id)
       |SELECT q.query_id,
       | CAST(COALESCE(j1.sq_hits, 0) AS BIGINT) AS sq_hits,
       | CAST(COALESCE(j2.pq_hits, 0) AS BIGINT) AS pq_hits,
       | CAST(COALESCE(j1.sq_hits, 0) AS DOUBLE) / 3 AS sq_recall,
       | CAST(COALESCE(j2.pq_hits, 0) AS DOUBLE) / 3 AS pq_recall
       |FROM (SELECT DISTINCT query_id FROM e2top) q
       |LEFT JOIN j1 ON j1.query_id = q.query_id
       |LEFT JOIN j2 ON j2.query_id = q.query_id""".stripMargin
  }

  /** duckdb band table for the axis-sign LSH family — one row per
    * (vec_id, band_idx, bucket), same geometry as
    * [[graft.operators.VectorQueries.axisBandBuckets]] (band b = sign bits
    * of dims [b·bits, (b+1)·bits); duckdb lists are 1-indexed).
    */
  private def axisBandsCte: String = {
    val bits = graft.operators.VectorQueries.LshBits
    val bands = graft.operators.VectorQueries.LshBands
    val arms = (0 until bands).map { b =>
      val sig = (0 until bits).map(i =>
        s"CASE WHEN embedding[${b * bits + i + 1}] >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
      s" SELECT vec_id, CAST($b AS INT) AS band_idx, $sig AS bucket FROM embeddings"
    }.mkString("\n UNION ALL\n")
    s"bands AS (\n$arms)"
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e3LshBuckets]]. */
  private def e3OracleSql: String =
    s"""WITH $axisBandsCte
       |SELECT a.band_idx, a.bucket AS bucket, count(*) AS candidate_pairs,
       | CAST(min(a.vec_id) AS INT) AS min_id, CAST(max(b.vec_id) AS INT) AS max_id
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |GROUP BY a.band_idx, a.bucket""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e8LshProjections]] —
    * the identical seeded projection family built from the same md5
    * arithmetic, dot products unrolled in the same left-to-right order so
    * every intermediate double is bit-identical; planes grouped into the
    * same bands.
    */
  private def e8OracleSql: String = {
    val bits = graft.operators.VectorQueries.LshBits
    val bands = graft.operators.VectorQueries.LshBands
    def w(p: Int, i: Int): String =
      s"((CAST('0x' || substr(md5('plane:$p:$i'), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0)"
    def bit(p: Int): String = {
      val dot = (1 to 64)
        .map(i => s"CAST(embedding[$i] AS DOUBLE) * ${w(p, i - 1)}")
        .mkString(" + ")
      s"(CASE WHEN $dot >= 0 THEN '1' ELSE '0' END)"
    }
    val arms = (0 until bands).map { b =>
      val sig = (0 until bits).map(i => bit(b * bits + i))
        .mkString("concat(", ", ", ")")
      s" SELECT vec_id, CAST($b AS INT) AS band_idx, $sig AS bucket FROM embeddings"
    }.mkString("\n UNION ALL\n")
    s"""WITH bands AS (
       |$arms)
       |SELECT a.band_idx, a.bucket, count(*) AS candidate_pairs,
       | min(a.vec_id) AS min_id, max(b.vec_id) AS max_id
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |GROUP BY a.band_idx, a.bucket""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.VectorQueries.e7IvfRecall]] — the
    * e2 (brute) and e6 (IVF) oracle pipelines composed into recall@3.
    */
  private def e7OracleSql: String =
    """WITH dots AS (
      | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |  CAST(
      |   list_aggregate(list_transform(range(1, len(q.embedding)+1),
      |     i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), 'sum') /
      |   (sqrt(list_aggregate(list_transform(q.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
      |    sqrt(list_aggregate(list_transform(n.embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
      |  AS DECIMAL(20,6)) AS sim_dec
      | FROM embeddings q, embeddings n
      | WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id),
      |brute AS (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |                      ORDER BY sim_dec DESC, neighbor_id ASC) AS rank
      |  FROM dots) WHERE rank <= 3),
      |cents AS (
      | SELECT vec_id AS centroid_id, embedding AS c_emb
      | FROM embeddings WHERE vec_id < 4),
      |asg0 AS (
      | SELECT e.vec_id, e.embedding, c.centroid_id,
      |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS a_sim
      | FROM embeddings e, cents c),
      |asg AS (
      | SELECT vec_id, embedding, centroid_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY a_sim DESC, centroid_id ASC) AS a_rk FROM asg0) t
      | WHERE a_rk = 1),
      |q AS (
      | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      | FROM asg WHERE vec_id < 10),
      |cand AS (
      | SELECT q.query_id, a.vec_id AS neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
      |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
      |  AND a.vec_id <> q.query_id),
      |ivf AS (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM cand)
      | WHERE rank <= 3),
      |hits AS (
      | SELECT b.query_id, count(*) AS hits
      | FROM brute b JOIN ivf i
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      | GROUP BY b.query_id)
      |SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
      | COALESCE(h.hits, 0) / 3.0 AS recall_at_3
      |FROM (SELECT DISTINCT query_id FROM brute) q
      |LEFT JOIN hits h ON q.query_id = h.query_id""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d15CorpusDedup]] —
    * d13's pair pipeline + exact-dedup keepers + pairwise near-dup removal,
    * grouped by source.
    */
  /** Shared duckdb CTE chain `base → hs → sigs → bands → cand` mirroring
    * [[graft.operators.DedupQueries.d13LshPairs]]'s candidate generation
    * (used by the d13/d15/d19 oracles).
    */
  private def lshCandCtes: String = lshCandCtesFrom("documents")

  /** [[lshCandCtes]] over an arbitrary (doc_id, text) relation — x1 runs
    * the LSH chain on its filtered survivor corpus instead of `documents`.
    */
  private def lshCandCtesFrom(src: String,
      stopSrc: Option[String] = None): String = {
    val sigExprs = graft.operators.DedupQueries.MinhashPerms.zipWithIndex.map {
      case ((a, b), i) =>
        s" list_min(list_transform(h, x -> ($a * (x % 1000000007) + $b) % 1000000007)) AS sig$i"
    }.mkString(",\n")
    def shingleCte(name: String, from: String) =
      s"""$name AS (
         | SELECT doc_id,
         |  CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3
         |   THEN list_distinct(list_transform(
         |     range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
         |     i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
         |                                     i, i + 2), ' ')))
         |   ELSE [text] END AS sh
         | FROM $from)""".stripMargin
    // stop-shingle variant (x1/st19's stage D2 — see
    // CorpusPipeline.stopShingles): shingles in a majority of the
    // quality survivors (`stopSrc`) are boilerplate; the near-dup stage
    // operates on CONTENT shingles only, and a doc whose every shingle
    // is stop drops out of banding and verification alike. df counts ONE
    // representative per DISTINCT text (min doc_id per md5(text)) with
    // the representative count as the denominator — the engine's v4 rule
    // (CorpusPipeline.stopShingles): a text verbatim-duplicated into a
    // near-majority of survivors must not vote its own content shingles
    // into the stop set (exact dedup owns the copies; their near-dup
    // variants must stay bandable).
    val stopCtes = stopSrc.map { s =>
      s"""stopkeep AS (
         | SELECT min(doc_id) AS doc_id FROM $s GROUP BY md5(text)),
         |${shingleCte("stopbase",
             s"(SELECT f.doc_id, f.text FROM $s f JOIN stopkeep k USING (doc_id)) srep")},
         |stopsh AS (
         | SELECT sh_s FROM (SELECT doc_id, unnest(sh) AS sh_s FROM stopbase) u
         | GROUP BY sh_s HAVING count(*) > (SELECT count(*) / 2.0 FROM stopkeep)),
         |bsh AS (
         | SELECT doc_id, list(sh_s) AS sh
         | FROM (SELECT doc_id, unnest(sh) AS sh_s FROM base) u
         | WHERE sh_s NOT IN (SELECT sh_s FROM stopsh)
         | GROUP BY doc_id),
         |""".stripMargin
    }.getOrElse("")
    val hsFrom = if (stopSrc.isDefined) "bsh" else "base"
    s"""${shingleCte("base", src)},
       |${stopCtes}hs AS (
       | SELECT doc_id,
       |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       | FROM $hsFrom),
       |sigs AS (
       | SELECT doc_id,
       |$sigExprs
       | FROM hs),
       |bands AS (
       | SELECT doc_id, 0 AS band_idx, concat(sig0, ':', sig1) AS bkey FROM sigs
       | UNION ALL SELECT doc_id, 1, concat(sig2, ':', sig3) FROM sigs
       | UNION ALL SELECT doc_id, 2, concat(sig4, ':', sig5) FROM sigs
       | UNION ALL SELECT doc_id, 3, concat(sig6, ':', sig7) FROM sigs),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** The `pairs` CTE: exact Jaccard verification of `cand` (d13's
    * output). `shBase` is the shingle-set CTE the verification reads —
    * `base` (full sets) for the raw-text d-queries, `bsh` (content
    * shingles, stop set excluded) for the x1/st19 chain.
    */
  private def lshPairsCteFrom(shBase: String): String =
    s"""pairs AS (
       | SELECT id_a, id_b,
       |  CAST(CAST(
       |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
       |    (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
       |   AS DECIMAL(10,6)) AS DOUBLE) AS jaccard
       | FROM cand JOIN $shBase a ON a.doc_id = id_a JOIN $shBase b ON b.doc_id = id_b)""".stripMargin

  private def lshPairsCte: String = lshPairsCteFrom("base")

  private def d15OracleSql: String =
    s"""WITH $lshCandCtes,
       |$lshPairsCte,
       |losers AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jaccard >= 0.5),
       |exact_keep AS (
       | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |survivors AS (
       | SELECT k.doc_id FROM exact_keep k
       | WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = k.doc_id))
       |SELECT d.source, count(*) AS survivors,
       | min(s.doc_id) AS min_id, max(s.doc_id) AS max_id
       |FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
       |GROUP BY d.source""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d13LshPairs]] — d7's
    * signature CTEs extended with banding, bucket self-join, and exact
    * Jaccard verification of the candidates.
    */
  private def d13OracleSql: String =
    s"""WITH $lshCandCtes,
       |$lshPairsCte
       |SELECT id_a, id_b, jaccard FROM pairs""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d19ClusterDedup]] —
    * connected components of the verified pair graph via a recursive CTE
    * (label reachability; min reachable id = the component representative —
    * exactly the engine's min-label-propagation fixpoint).
    */
  private def d19OracleSql: String =
    s"""WITH RECURSIVE $lshCandCtes,
       |$lshPairsCte,
       |good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM good
       | UNION SELECT id_b, id_a FROM good),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       | SELECT id, id AS label FROM verts
       | UNION
       | SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_rep FROM reach GROUP BY id)
       |SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
       | max(id) AS max_id
       |FROM cc GROUP BY cluster_rep""".stripMargin

  /** duckdb mirror of the persisted-IVF serving path: full-corpus coarse
    * assignment + nprobe=1 probe search, shared by `e18_persisted_ivf`
    * (build+serve) and `e20_ivf_append` (base build + batch append must
    * serve identically to this full rebuild).
    */
  private def e18OracleSql: String = ivfServeOracleSql("vec_id < 10", "")

  /** st20's mirror: e18's serving SQL over the streamed query set plus the
    * commit count (4 arrival files → 4 batchId-keyed commits).
    */
  private def st20OracleSql: String =
    ivfServeOracleSql("vec_id < 40", ", 4 AS n_commits")

  private def ivfServeOracleSql(queryPred: String, extraCol: String): String =
    s"""WITH cents AS (
      | SELECT vec_id AS centroid_id, embedding AS c_emb
      | FROM embeddings WHERE vec_id < 4),
      |asg0 AS (
      | SELECT e.vec_id, e.embedding, c.centroid_id,
      |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS a_sim
      | FROM embeddings e, cents c),
      |asg AS (
      | SELECT vec_id, embedding, centroid_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY a_sim DESC, centroid_id ASC) AS a_rk FROM asg0) t
      | WHERE a_rk = 1),
      |q AS (
      | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      | FROM asg WHERE $queryPred),
      |cand AS (
      | SELECT q.query_id, a.vec_id AS neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
      |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
      |  AND a.vec_id <> q.query_id),
      |r AS (
      | SELECT query_id, neighbor_id, sim_dec,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM cand)
      |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS ivf_sim$extraCol
      |FROM r WHERE rank <= 3""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e21IvfDelete]] — the
    * e18 serving SQL over the corpus MINUS the doomed set: a deleted vector
    * surviving anywhere (or an innocent one lost) fails the hash.
    */
  private def e21OracleSql: String = e21OracleSqlWith("")

  /** e21's corpus-minus-doomed serving restated with an optional extra
    * constant column — st25 (the streaming takedown) appends the
    * exactly-once batch count, the st20/st24 convention.
    */
  private def e21OracleSqlWith(extraCol: String): String =
    s"""WITH cents AS (
      | SELECT vec_id AS centroid_id, embedding AS c_emb
      | FROM embeddings WHERE vec_id < 4),
      |corp AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
      |asg0 AS (
      | SELECT e.vec_id, e.embedding, c.centroid_id,
      |  CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS a_sim
      | FROM corp e, cents c),
      |asg AS (
      | SELECT vec_id, embedding, centroid_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY a_sim DESC, centroid_id ASC) AS a_rk FROM asg0) t
      | WHERE a_rk = 1),
      |q AS (
      | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      | FROM asg WHERE vec_id < 10),
      |cand AS (
      | SELECT q.query_id, a.vec_id AS neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
      |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
      |  AND a.vec_id <> q.query_id),
      |r AS (
      | SELECT query_id, neighbor_id, sim_dec,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM cand)
      |SELECT query_id, rank, neighbor_id, CAST(sim_dec AS DOUBLE) AS ivf_sim$extraCol
      |FROM r WHERE rank <= 3""".stripMargin

  /** The e18-shaped serving tail over a pre-built assignment CTE `asg`
    * (vec_id, embedding, centroid_id): queries = `queryPred` rows of the
    * assignment, candidates joined on bin, decimal-ranked top-3. No
    * leading comma; emits the query/cand/rank CTE bodies and the final
    * SELECT with optional extra constant columns. Shared by the
    * re-trained-geometry oracles (e37/st26), which differ from
    * [[ivfServeOracleSql]] only in WHERE the assignment comes from.
    */
  private def serveTailSqlOver(asg: String, px: String,
      extraCols: String): String =
    s"""${px}q AS (
      | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      | FROM $asg WHERE vec_id < 10),
      |${px}cand AS (
      | SELECT q.query_id, a.vec_id AS neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
      |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM $asg a JOIN ${px}q q ON a.centroid_id = q.centroid_id
      |  AND a.vec_id <> q.query_id),
      |${px}rnk AS (
      | SELECT query_id, neighbor_id, sim_dec,
      |  row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM ${px}cand)
      |SELECT query_id, rank, neighbor_id,
      | CAST(sim_dec AS DOUBLE) AS ivf_sim$extraCols
      |FROM ${px}rnk WHERE rank <= 3""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e37RetrainSwap]] —
    * the e18 serving math under the RE-TRAINED coarse geometry: one Lloyd
    * round over the live corpus seeded from the serving geometry (the
    * kmeans chain at iters=1), full-corpus assignment under the new
    * centroids, nprobe=1 top-3. The blue-green machinery (replace-all
    * snapshot, atomic manifest cut, retention vacuum) must be invisible:
    * serving answers as if the index had been built fresh under the new
    * geometry — which is this SQL.
    */
  private def e37OracleSql: String =
    s"""WITH ${kmeansChainSqlFrom("", "embeddings", 1, 4)},
      |${assignCteFrom("asg", "c1", "embeddings")},
      |${serveTailSqlOver("asg", "", "")}""".stripMargin

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.st26StreamingGenerationSwap]] — the
    * fixed query set answered under BOTH geometries: gen 1 = the demo
    * seeds (the chain's c0, e18's geometry), gen 2 = the re-trained c1.
    * Each generation's rows appear from exactly 2 of the 4 batches
    * (n_gen_batches pins the swap landing at batch 2), and the result log
    * records exactly 4 keyed commits.
    */
  private def st26OracleSql: String =
    s"""WITH ${kmeansChainSqlFrom("", "embeddings", 1, 4)},
      |${assignCteFrom("oldasg", "c0", "embeddings")},
      |${assignCteFrom("newasg", "c1", "embeddings")},
      |g1 AS (
      |WITH ${serveTailSqlOver("oldasg", "o",
         ", 2 AS n_gen_batches, 4 AS n_commits")}),
      |g2 AS (
      |WITH ${serveTailSqlOver("newasg", "n",
         ", 2 AS n_gen_batches, 4 AS n_commits")})
      |SELECT 1 AS gen, * FROM g1
      |UNION ALL
      |SELECT 2 AS gen, * FROM g2""".stripMargin

  /** duckdb mirror of
    * [[graft.operators.VectorQueries.st27SwapUnderMaintenance]] — e37's
    * re-trained serving math (the swap's after-state), because the whole
    * maintained-stream history — 4 keyed appends, per-list compaction,
    * splits bracketing the swap at batches 1 and 3, the batch-2 re-encode
    * — must be invisible to answers. The count columns pin exactly-once
    * for BOTH job classes: 4 ingest commits, 1 swap, 2 split commits.
    */
  private def st27OracleSql: String =
    s"""WITH ${kmeansChainSqlFrom("", "embeddings", 1, 4)},
      |${assignCteFrom("asg", "c1", "embeddings")},
      |${serveTailSqlOver("asg", "",
         ", 4 AS n_commits, 1 AS n_swaps, 2 AS n_splits")}""".stripMargin

  /** duckdb mirror of [[graft.operators.VectorQueries.e22FilteredRecall]] —
    * e19's serving CTEs plus the filtered brute-force baseline, joined per
    * query into a recall fraction.
    */
  private def e22OracleSql: String =
    """WITH cents AS (
      | SELECT vec_id AS centroid_id, embedding AS c_emb
      | FROM embeddings WHERE vec_id < 4),
      |asg0 AS (
      | SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
      |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |   CAST(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      |     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
      |    AS DECIMAL(20,6)) DESC, c.centroid_id ASC) AS a_rk
      | FROM embeddings e, cents c),
      |asg AS (
      | SELECT vec_id, embedding, label, centroid_id FROM asg0 WHERE a_rk = 1),
      |q AS (
      | SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      | FROM asg0 WHERE vec_id < 10 AND a_rk <= 2),
      |icand AS (
      | SELECT q.query_id, a.vec_id AS neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(q.q_emb)+1),
      |    i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim_dec
      | FROM asg a JOIN q ON a.centroid_id = q.centroid_id
      |  AND a.vec_id <> q.query_id
      | WHERE a.label IN (1, 3, 5)),
      |ivf AS (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY sim_dec DESC, neighbor_id ASC) AS rank FROM icand) t
      | WHERE rank <= 3),
      |bq AS (
      | SELECT vec_id AS query_id, embedding AS q_emb
      | FROM embeddings WHERE vec_id < 10),
      |bc AS (
      | SELECT vec_id AS neighbor_id, embedding
      | FROM embeddings WHERE label IN (1, 3, 5)),
      |bd AS (
      | SELECT bq.query_id, bc.neighbor_id,
      |  CAST(list_aggregate(list_transform(range(1, len(bq.q_emb)+1),
      |    i -> CAST(bq.q_emb[i] AS DOUBLE) * CAST(bc.embedding[i] AS DOUBLE)), 'sum')
      |   AS DECIMAL(20,6)) AS sim
      | FROM bq, bc WHERE bc.neighbor_id <> bq.query_id),
      |brute AS (
      | SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |     ORDER BY sim DESC, neighbor_id ASC) AS rk FROM bd) t
      | WHERE rk <= 3)
      |SELECT b.query_id, CAST(count(i.neighbor_id) AS BIGINT) AS hits,
      | CAST(count(i.neighbor_id) AS DOUBLE) / 3 AS recall
      |FROM brute b LEFT JOIN ivf i
      | ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
      |GROUP BY b.query_id""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d31Containment]] —
    * d13's candidate CTEs with the two asymmetric ratios in place of
    * Jaccard.
    */
  private def d31OracleSql: String =
    s"""WITH $lshCandCtes,
       |cont AS (
       | SELECT id_a, id_b,
       |  CAST(CAST(
       |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
       |    len(a.sh) AS DECIMAL(10,6)) AS DOUBLE) AS cont_a_in_b,
       |  CAST(CAST(
       |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
       |    len(b.sh) AS DECIMAL(10,6)) AS DOUBLE) AS cont_b_in_a
       | FROM cand JOIN base a ON a.doc_id = id_a JOIN base b ON b.doc_id = id_b)
       |SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM cont""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d29ClusterKeepBest]] —
    * d19's component CTEs plus an arg-max-by-length selection per cluster.
    */
  private def d29OracleSql: String =
    s"""WITH RECURSIVE $lshCandCtes,
       |$lshPairsCte,
       |good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM good
       | UNION SELECT id_b, id_a FROM good),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       | SELECT id, id AS label FROM verts
       | UNION
       | SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_rep FROM reach GROUP BY id),
       |m AS (
       | SELECT cc.cluster_rep, cc.id AS doc_id, d.n_chars,
       |  row_number() OVER (PARTITION BY cc.cluster_rep
       |    ORDER BY d.n_chars DESC, cc.id ASC) AS rk
       | FROM cc JOIN documents d ON d.doc_id = cc.id)
       |SELECT cluster_rep,
       | max(CASE WHEN rk = 1 THEN doc_id END) AS kept_id,
       | max(CASE WHEN rk = 1 THEN n_chars END) AS kept_chars,
       | CAST(count(*) AS BIGINT) AS n_members
       |FROM m GROUP BY cluster_rep""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d20ClusterClean]] —
    * d15's arms with `losers` replaced by the non-representative members of
    * each connected component.
    */
  private def d20OracleSql: String =
    s"""WITH RECURSIVE $lshCandCtes,
       |$lshPairsCte,
       |good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM good
       | UNION SELECT id_b, id_a FROM good),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       | SELECT id, id AS label FROM verts
       | UNION
       | SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON e.src = r.id),
       |cc AS (SELECT id, min(label) AS cluster_rep FROM reach GROUP BY id),
       |losers AS (SELECT id AS doc_id FROM cc WHERE id <> cluster_rep),
       |exact_keep AS (
       | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |survivors AS (
       | SELECT k.doc_id FROM exact_keep k
       | WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = k.doc_id))
       |SELECT d.source, count(*) AS survivors,
       | min(s.doc_id) AS min_id, max(s.doc_id) AS max_id
       |FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
       |GROUP BY d.source""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d12MinhashUdaf]] — the
    * Aggregator must equal the column-expression formulation, so the oracle
    * is d7's signature CTE without the band keys.
    */
  private def d12OracleSql: String = {
    val sigExprs = graft.operators.DedupQueries.MinhashPerms.zipWithIndex.map {
      case ((a, b), i) =>
        s" list_min(list_transform(h, x -> ($a * (x % 1000000007) + $b) % 1000000007)) AS sig$i"
    }.mkString(",\n")
    s"""WITH base AS (
       | SELECT doc_id,
       |  CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3
       |   THEN list_distinct(list_transform(
       |     range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
       |     i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
       |                                     i, i + 2), ' ')))
       |   ELSE [text] END AS sh
       | FROM documents),
       |hs AS (
       | SELECT doc_id,
       |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       | FROM base)
       |SELECT doc_id,
       |$sigExprs
       |FROM hs""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.DedupQueries.e5CosineNearDup]] —
    * banded candidates (any shared (band, bucket)), exact cosine verify,
    * threshold filter on the decimal-rounded similarity.
    */
  private def e5OracleSql: String =
    s"""WITH $axisBandsCte,
       |cand AS (
       | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       | FROM bands a JOIN bands b
       |   ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (
       | SELECT c.id_a, c.id_b,
       |  CAST(
       |   list_aggregate(list_transform(range(1, len(ea.embedding)+1),
       |     i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), 'sum') /
       |   (sqrt(list_aggregate(list_transform(ea.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
       |    sqrt(list_aggregate(list_transform(eb.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
       |  AS DECIMAL(20,6)) AS sim_dec
       | FROM cand c
       | JOIN embeddings ea ON ea.vec_id = c.id_a
       | JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, CAST(sim_dec AS DOUBLE) AS cos_sim
       |FROM pairs WHERE sim_dec >= 0.2""".stripMargin

  /** duckdb mirror of [[graft.operators.DedupQueries.d7MinhashSig]] — the
    * permutation arms are generated from the same (a,b) constants.
    */
  private def d7OracleSql: String = {
    val sigExprs = graft.operators.DedupQueries.MinhashPerms.zipWithIndex.map {
      case ((a, b), i) =>
        s" list_min(list_transform(h, x -> ($a * (x % 1000000007) + $b) % 1000000007)) AS sig$i"
    }.mkString(",\n")
    s"""WITH base AS (
       | SELECT doc_id,
       |  CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3
       |   THEN list_distinct(list_transform(
       |     range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
       |     i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
       |                                     i, i + 2), ' ')))
       |   ELSE [text] END AS sh
       | FROM documents),
       |hs AS (
       | SELECT doc_id,
       |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS h
       | FROM base),
       |sigs AS (
       | SELECT doc_id,
       |$sigExprs
       | FROM hs)
       |SELECT doc_id, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7,
       | concat(sig0, ':', sig1) AS band0, concat(sig2, ':', sig3) AS band1,
       | concat(sig4, ':', sig5) AS band2, concat(sig6, ':', sig7) AS band3
       |FROM sigs""".stripMargin
  }

  /** duckdb mirror of [[graft.operators.DedupQueries.d8Simhash]] — same
    * [[graft.operators.DedupQueries.SimhashBits]] width; the oracle keeps
    * the window-count formulation (result-identical; the ENGINE plan is
    * what the groupBy+broadcast shape fixes).
    */
  private def d8OracleSql: String = {
    val bitExprs = (0 until graft.operators.DedupQueries.SimhashBits).map { j =>
      s"  (CASE WHEN list_aggregate(list_transform(h, x -> 2 * ((x >> $j) & 1) - 1), 'sum') > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" +\n")
    s"""WITH hs AS (
       | SELECT doc_id,
       |  list_transform(list_distinct(string_split_regex(trim(text), '\\s+')),
       |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS h
       | FROM documents),
       |sim AS (
       | SELECT doc_id,
       |$bitExprs AS simhash
       | FROM hs)
       |SELECT doc_id, simhash,
       | count(*) OVER (PARTITION BY simhash) AS cluster_size
       |FROM sim""".stripMargin
  }
}
