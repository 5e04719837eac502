package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2, implemented
  * Spark-first; [[oracleSql]] carries the DuckDB-equivalent SQL the driver
  * hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q2JoinRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"               -> (Relational.q1Agg _),
    "q2_join_revenue"      -> (Relational.q2JoinRevenue _),
    "q3_filter_revenue"    -> (Relational.q3FilterRevenue _),
    "q4_dedup_keep_last"   -> (Relational.q4DedupKeepLast _),
    "q5_distinct"          -> (Relational.q5Distinct _),
    "q6_topk_per_group"    -> (Relational.q6TopKPerGroup _),
    "q7_group_broadcast"   -> (Relational.q7GroupBroadcast _),
    "q8_union_dedup"       -> (Relational.q8UnionDedup _),
    "q9_coalesce_longest"  -> (Relational.q9CoalesceLongest _),
    "q10_word_count"       -> (Relational.q10WordCount _),
    "q11_regex_extract"    -> (Relational.q11RegexExtract _),
    "q12_md5"              -> (Relational.q12Md5 _),
    "q13_date_arith"       -> (Relational.q13DateArith _),
    "q14_argmax"           -> (Relational.q14ArgMax _),
    "q15_clean"            -> (CleanerQueries.q15Clean _),
    "q16_topics"           -> (NlpQueries.q16Topics _),
    "q17_weighted_ner"     -> (NlpQueries.q17WeightedNer _),
    "q18_sentiment"        -> (NlpQueries.q18Sentiment _),
    "q19_medoids"          -> (NlpQueries.q19Medoids _),
    "q20_medoids_pairwise" -> (NlpQueries.q20MedoidsPairwise _),
    "q21_summarize_medoids"-> (NlpQueries.q21SummarizeMedoids _),
    "q22_viz_frame"        -> (NlpQueries.q22VizFrame _),
    "q23_dedup_exact"      -> (DedupQueries.q23DedupExact _),
    "q24_minhash_sig"      -> (DedupQueries.q24MinhashSig _),
    "q25_neardup_lsh"      -> (DedupQueries.q25NeardupLsh _),
    "q26_simhash"          -> (DedupQueries.q26Simhash _),
    "q27_embed_neardup"    -> (SimQueries.q27EmbedNeardup _),
    "q28_ann_topk"         -> (SimQueries.q28AnnTopk _),
    "q29_lang_id"          -> (TextStatsQueries.q29LangId _),
    "q30_quality"          -> (TextStatsQueries.q30Quality _),
    "q31_token_count"      -> (TextStatsQueries.q31TokenCount _),
    "q32_fingerprint"      -> (TextStatsQueries.q32Fingerprint _),
    "q33_binary_features"  -> (MultimodalQueries.q33BinaryFeatures _),
    "q34_event_windows"    -> (EventQueries.q34EventWindows _),
    "q35_session_windows"  -> (EventQueries.q35SessionWindows _),
    "q36_simhash_neardup"  -> (DedupQueries.q36SimhashNeardup _),
    "q37_lemma_count"      -> (TextStatsQueries.q37LemmaCount _),
    "q38_embed_dedup"      -> (DedupQueries.q38EmbedDedup _),
    "q39_neardup_groups"   -> (DedupQueries.q39NeardupGroups _),
    "q40_jaccard_blocked"  -> (DedupQueries.q40JaccardBlocked _),
    "q41_ivf_topk"         -> (SimQueries.q41IvfTopk _),
    "q42_hash_split"       -> (SamplingQueries.q42HashSplit _),
    "q43_stratified_sample"-> (SamplingQueries.q43StratifiedSample _),
    "q44_pack_sequences"   -> (SamplingQueries.q44PackSequences _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_agg"               -> Relational.q1Sql,
    "q2_join_revenue"      -> Relational.q2Sql,
    "q3_filter_revenue"    -> Relational.q3Sql,
    "q4_dedup_keep_last"   -> Relational.q4Sql,
    "q5_distinct"          -> Relational.q5Sql,
    "q6_topk_per_group"    -> Relational.q6Sql,
    "q7_group_broadcast"   -> Relational.q7Sql,
    "q8_union_dedup"       -> Relational.q8Sql,
    "q9_coalesce_longest"  -> Relational.q9Sql,
    "q10_word_count"       -> Relational.q10Sql,
    "q11_regex_extract"    -> Relational.q11Sql,
    "q12_md5"              -> Relational.q12Sql,
    "q13_date_arith"       -> Relational.q13Sql,
    "q14_argmax"           -> Relational.q14Sql,
    "q15_clean"            -> CleanerQueries.q15Sql,
    "q16_topics"           -> NlpQueries.q16Sql,
    "q17_weighted_ner"     -> NlpQueries.q17Sql,
    "q18_sentiment"        -> NlpQueries.q18Sql,
    "q19_medoids"          -> NlpQueries.q19Sql,
    "q20_medoids_pairwise" -> NlpQueries.q20Sql,
    "q21_summarize_medoids"-> NlpQueries.q21Sql,
    "q22_viz_frame"        -> NlpQueries.q22Sql,
    "q23_dedup_exact"      -> DedupQueries.q23Sql,
    "q24_minhash_sig"      -> DedupQueries.q24Sql,
    "q25_neardup_lsh"      -> DedupQueries.q25Sql,
    "q26_simhash"          -> DedupQueries.q26Sql,
    "q27_embed_neardup"    -> SimQueries.q27Sql,
    "q28_ann_topk"         -> SimQueries.q28Sql,
    "q29_lang_id"          -> TextStatsQueries.q29Sql,
    "q30_quality"          -> TextStatsQueries.q30Sql,
    "q31_token_count"      -> TextStatsQueries.q31Sql,
    "q32_fingerprint"      -> TextStatsQueries.q32Sql,
    "q33_binary_features"  -> MultimodalQueries.q33Sql,
    "q34_event_windows"    -> EventQueries.q34Sql,
    "q35_session_windows"  -> EventQueries.q35Sql,
    "q36_simhash_neardup"  -> DedupQueries.q36Sql,
    "q37_lemma_count"      -> TextStatsQueries.q37Sql,
    "q38_embed_dedup"      -> DedupQueries.q38Sql,
    "q39_neardup_groups"   -> DedupQueries.q39Sql,
    "q40_jaccard_blocked"  -> DedupQueries.q40Sql,
    // q41_ivf_topk intentionally has NO oracle SQL: its quantizer (no
    // MLlib fit) is a seeded Lloyd loop in one task over id-sorted rows,
    // so it is partitioning-independent, but its JVM-seeded init and float
    // Lloyd steps have no portable SQL replay; it is checked by rows only
    // and SimilaritySpec asserts recall vs brute force.
    "q42_hash_split"       -> SamplingQueries.q42Sql,
    "q43_stratified_sample"-> SamplingQueries.q43Sql,
    "q44_pack_sequences"   -> SamplingQueries.q44Sql,
  )
}
