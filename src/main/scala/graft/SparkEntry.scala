package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every key in [[queries]] is one operator from the inventory; keys present
  * in [[oracleSql]] are verified value-for-value against DuckDB running the
  * equivalent ANSI SQL on the same parquet tables. Column aliases are kept
  * byte-identical between the Spark plan and the SQL (the driver hashes
  * values after sorting columns by name).
  */
object SparkEntry extends OracleHelpersA with OracleHelpersB
    with OracleSqlCore with OracleSqlRestA with OracleSqlRestB {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference surface (log-analytics core) —
    "ingest_errors"         -> ((s: SparkSession, d: String) => LogOps.ingestErrors(s, d)),
    // a second NRQL window/filter point: narrower SINCE..UNTIL, different
    // container LIKE, and a LIMIT that actually truncates (149 matching
    // rows at sf0.01 → the ordered LIMIT 100 is exercised, not vacuous)
    "ingest_errors_window"  -> ((s: SparkSession, d: String) =>
      LogOps.ingestErrors(s, d, sinceTs = "2024-01-10 00:00:00",
        untilTs = "2024-01-20 00:00:00", userLike = "%3%", limit = 100)),
    "preprocess_redact"     -> (LogOps.preprocessRedact _),
    "preprocess_dedup"      -> (LogOps.preprocessDedup _),
    "redact_secrets"        -> (LogOps.redactSecrets _),
    "metrics_timeline"      -> (LogOps.metricsTimeline _),
    "metrics_by_service"    -> (LogOps.metricsByService _),
    "metrics_timeline_filled" -> (LogOps.metricsTimelineFilled _),
    "anomaly_spikes"        -> ((s: SparkSession, d: String) => LogOps.anomalySpikes(s, d)),
    "anomaly_spikes_stateful" -> ((s: SparkSession, d: String) =>
      graft.streaming.StatefulSpikes(
        graft.streaming.StatefulSpikes.fromEvents(
          graft.sources.Tables.events(s, d))).toDF()),
    // a second sensitivity point: σ=1.5 flags ~16 of 150 cells at sf0.01
    // (σ=3 flags 2), so the oracle exercises the spike branch broadly
    "anomaly_spikes_s15"    -> ((s: SparkSession, d: String) =>
      LogOps.anomalySpikes(s, d, sigma = 1.5)),
    "metrics_by_level"      -> (LogOps.metricsByLevel _),
    "metrics_by_namespace"  -> (LogOps.metricsByNamespace _),
    // drill-down totals, pivot matrix, smoothed trend — the three
    // dashboard relations the per-attribute Counters can't serve
    "metrics_rollup"        -> (LogOps.metricsRollup _),
    "events_pivot"          -> (LogOps.eventsPivot _),
    "metrics_moving_avg"    -> ((s: SparkSession, d: String) =>
      LogOps.metricsMovingAvg(s, d)),
    "search_keyword"        -> (LogOps.searchKeyword _),
    "log_templates"         -> (LogOps.logTemplates _),
    // empty on the synthetic corpus by design (every template shape spans
    // both periods) — the EMPTY result is hash-compared, like the _none
    // search points; the spec plants real novelty
    "template_novelty"      -> ((s: SparkSession, d: String) => LogOps.templateNovelty(s, d)),
    "template_trending"     -> ((s: SparkSession, d: String) => LogOps.templateTrending(s, d)),
    // streaming first-seen trigger, applied in batch mode (the
    // sessionize_stateful pairing): one alert row per distinct shape
    "template_first_seen"   -> ((s: SparkSession, d: String) =>
      graft.streaming.StatefulTemplates(
        graft.streaming.StatefulTemplates.fromEvents(
          graft.sources.Tables.events(s, d))).toDF()),
    "search_entries"        -> ((s: SparkSession, d: String) => LogOps.searchEntries(s, d)),
    // parameter sweep: the dashboard takes arbitrary level/keyword/window
    // combinations per request (app.py:66-84) — each variant pins a
    // different point: a non-error level, and a no-hit keyword (empty
    // result), all oracle-verified like the default point
    "search_entries_purchase" -> ((s: SparkSession, d: String) =>
      LogOps.searchEntries(s, d, level = "purchase", userLike = "%3%",
        keyword = "3", sinceTs = "2024-01-05 00:00:00", limit = 100)),
    "search_entries_none"   -> ((s: SparkSession, d: String) =>
      LogOps.searchEntries(s, d, keyword = "graftnope")),
    // namespace as its own substring attribute (app.py:70-72) — a biting
    // filter point: only entries whose props.k contains '9' survive
    // (chosen to keep the point non-empty at sf0.001 for the smoke gate)
    "search_entries_ns"     -> ((s: SparkSession, d: String) =>
      LogOps.searchEntries(s, d, namespace = "9")),
    "search_all"            -> ((s: SparkSession, d: String) => LogOps.searchAll(s, d)),
    // keyword landing in the report BODY only (log-line props — a hex
    // digest can't contain '"'), and one matching nothing at all
    "search_all_msg"        -> ((s: SparkSession, d: String) =>
      LogOps.searchAll(s, d, keyword = "\"k\": 12")),
    "search_all_none"       -> ((s: SparkSession, d: String) =>
      LogOps.searchAll(s, d, keyword = "graftnope")),
    "feedback_upsert"       -> (Upsert.feedbackUpsert _),
    "incident_report"       -> ((s: SparkSession, d: String) => LogOps.incidentReport(s, d)),
    // cap small enough to BITE at sf0.01 (~67 error lines/day): verifies
    // the truncation semantics itself, not just the uncapped fixpoint
    "incident_report_cap"   -> ((s: SparkSession, d: String) =>
      LogOps.incidentReport(s, d, maxLines = 25)),
    "slack_message"         -> (LogOps.slackMessage _),
    "slack_message_ns"      -> (LogOps.slackMessageApp _),
    "rag_prompt"            -> (Embeddings.ragPrompt _),
    "props_parse"           -> (LogOps.propsParse _),
    "distinct_users"        -> (LogOps.distinctUsers _),
    "approx_distinct"       -> (LogOps.approxDistinct _),
    // streaming HLL twin (the sessionize_stateful pairing): batch mode
    // reproduces the column pipeline's registers bit-for-bit -> same oracle
    "approx_distinct_stateful" -> ((s: SparkSession, d: String) =>
      graft.streaming.StatefulSketch(
        graft.streaming.StatefulSketch.fromEvents(
          graft.sources.Tables.events(s, d))).toDF()),
    "sessionize_stateful"   -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      // the shared sessionizer contract: a NULL-ts event has no place in
      // a session (and would NPE the typed gap arithmetic)
      val ev = graft.sources.Tables.events(s, d)
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.SessEvent]
      graft.streaming.StatefulSessionize(ev).toDF()
        .select(col("user_id"), col("n_events"),
          round(col("session_value"), 2).as("session_value"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"))
    }),
    // — scale-path analytics —
    "q1_pricing_summary"    -> (Relational.q1PricingSummary _),
    "q3_top_orders"         -> (Relational.q3TopOrders _),
    "q5_region_revenue"     -> (Relational.q5RegionRevenue _),
    "sessionize"            -> (Relational.sessionize _),
    "sessionize_native"     -> (Relational.sessionizeNative _),
    "top_events_per_user"   -> (Relational.topEventsPerUser _),
    "heavy_hitters"         -> (Relational.heavyHitters _),
    "skew_profile"          -> ((s: SparkSession, d: String) => Relational.skewProfile(s, d)),
    "heavy_hitters_approx"  -> ((s: SparkSession, d: String) => Relational.heavyHittersApprox(s, d)),
    "value_percentiles"     -> (Relational.valuePercentiles _),
    "value_percentiles_approx" -> (Relational.valuePercentilesApprox _),
    "value_percentiles_sampled" -> ((s: SparkSession, d: String) => Relational.valuePercentilesSampled(s, d)),
    // the RangePartitioner primitive: per-type value deciles assigned
    // from broadcast sampled cutpoints — no global sort anywhere
    "equidepth_buckets"     -> ((s: SparkSession, d: String) =>
      Relational.equidepthBuckets(s, d)),
    "asof_prev_error"       -> (Relational.asofPrevError _),
    // last-touch attribution: bounded asof; the streaming interval-join
    // twin (StreamJoins.attributionCandidates) emits the eligible pairs
    "click_attribution"     -> ((s: SparkSession, d: String) =>
      EventFlows.clickAttribution(s, d)),
    // 5-minute parameter point: most purchases lose their asof match, so
    // the NULL branch and the window predicate both bite differently
    "click_attribution_w5m" -> ((s: SparkSession, d: String) =>
      EventFlows.clickAttributionMinutes(s, d, 5)),
    "stream_windowed_counts" -> (Relational.streamWindowedCounts _),
    // — training-data text operators —
    "dedup_exact"           -> (TextOps.dedupExact _),
    // the streaming twin: fingerprint-keyed flatMapGroupsWithState;
    // batch mode sees each fingerprint whole → SAME oracle as
    // dedup_exact (the sessionize_stateful pairing)
    "dedup_exact_stateful"  -> ((s: SparkSession, d: String) =>
      graft.streaming.StatefulDedup(
        graft.streaming.StatefulDedup.fromDocuments(
          graft.sources.Tables.documents(s, d))).toDF()),
    "text_tokens"           -> (TextOps.textTokens _),
    "text_quality"          -> (TextOps.textQuality _),
    "clean_c4"              -> ((s: SparkSession, d: String) => TextOps.cleanC4(s, d)),
    "lang_id"               -> (TextOps.langId _),
    "text_repetition"       -> (TextOps.textRepetition _),
    "doc_fingerprint"       -> ((s: SparkSession, d: String) => TextOps.docFingerprint(s, d)),
    // — embedding / similarity search (exact scans oracle-verified via
    //   DuckDB list_dot_product — all-double sequential sums on both
    //   engines are bit-identical; the approximate/kernel-dependent ops
    //   stay rows-only) —
    "embed_text"            -> ((s: SparkSession, d: String) => Embeddings.embedText(s, d)),
    "vector_knn"            -> (Embeddings.vectorKnn _),
    "rag_context"           -> (Embeddings.ragContext _),
    "ann_cosine_topk"       -> (Embeddings.annCosineTopK _),
    "ann_ivf"               -> ((s: SparkSession, d: String) => Embeddings.annIvf(s, d)),
    // the seeded-quantizer IVF: same probe/cap/rank machinery with
    // deterministically sampled centroids — the one IVF path whose
    // BLOCKING geometry the oracle replays value-for-value
    "ann_ivf_seeded"        -> ((s: SparkSession, d: String) => Embeddings.annIvfSeeded(s, d)),
    // IVF-store ERASURE lifecycle: the seeded assignment persisted as a
    // durable index, subject vectors (vec_id ≡ 2 mod 13) tombstoned +
    // anti-joined at serve (before the candidate cap), centroids kept
    "ann_ivf_erased"        -> ((s: SparkSession, d: String) =>
      Embeddings.annIvfErasedServed(s, d)),
    // product quantization (FAISS IndexPQ shape): 8-byte codes, ADC scan,
    // exact re-rank — seeded codebook, so the compression pipeline itself
    // is oracle-hash-verified
    "ann_pq"                -> ((s: SparkSession, d: String) => Embeddings.annPq(s, d)),
    // the production composition: seeded IVF buckets prune, PQ codes
    // score, exact re-rank — oracle-verified end to end
    "ann_ivfpq"             -> ((s: SparkSession, d: String) => Embeddings.annIvfPq(s, d)),
    // SemDeDup-style semantic dedup groups: same-bucket cosine edges →
    // connected components → keep-one canonical (the embedding twin of
    // dedup_clusters), oracle-verified via the seeded quantizer
    "dedup_semantic_clusters" -> ((s: SparkSession, d: String) =>
      Embeddings.dedupSemanticClusters(s, d)),
    "ann_lsh"               -> ((s: SparkSession, d: String) => Embeddings.annLsh(s, d)),
    "ann_lsh_multiprobe"    -> ((s: SparkSession, d: String) =>
                                  Embeddings.annLsh(s, d, hammingProbes = 8)),
    "knn_label_vote"        -> (Embeddings.knnLabelVote _),
    "dedup_embedding"       -> ((s: SparkSession, d: String) => Embeddings.dedupEmbedding(s, d)),
    "embedding_outliers"    -> ((s: SparkSession, d: String) => Embeddings.embeddingOutliers(s, d)),
    "embedding_outliers_seeded" -> ((s: SparkSession, d: String) => Embeddings.embeddingOutliersSeeded(s, d)),
    "dedup_embedding_seeded" -> ((s: SparkSession, d: String) => Embeddings.dedupEmbeddingSeeded(s, d)),
    // — near-duplicate detection (rows-only) —
    "dedup_minhash"         -> ((s: SparkSession, d: String) => NearDup.dedupMinhash(s, d)),
    "dedup_clusters"        -> ((s: SparkSession, d: String) => NearDup.dedupClusters(s, d)),
    // golden-record survivorship: per near-dup cluster elect the longest
    // member (the ER "richest record wins" rule) + merge evidence
    "golden_records"        -> ((s: SparkSession, d: String) =>
      NearDup.goldenRecords(s, d)),
    // estimator-vs-exact calibration of the MinHash family: error-band
    // histogram + at-threshold confusion over the LSH candidates
    "minhash_calibration"   -> ((s: SparkSession, d: String) =>
      NearDup.minhashCalibration(s, d)),
    // TPC-H Q18 shape: the HAVING-subquery join, collapsed to ONE
    // lineitem pass by aggregating before the join
    "q18_large_orders"      -> ((s: SparkSession, d: String) =>
      Relational.q18LargeOrders(s, d)),
    // TPC-H Q2 shape: correlated scalar-min as a rank window over the
    // distinct (part, supplier) relation; oracle keeps the classic
    // double-correlated subquery form
    "q2_min_supplier"       -> ((s: SparkSession, d: String) =>
      Relational.q2MinSupplier(s, d)),
    // DSAR subject-access report: everything held about each subject in
    // the (deterministic) request set — the governance export leg
    "dsar_report"           -> ((s: SparkSession, d: String) =>
      LogOps.dsarReport(s, d)),
    // exact media dedup by payload digest — the multimodal dedup leg;
    // payloads never shuffle, the digest is computed at the scan
    "dedup_media"           -> ((s: SparkSession, d: String) =>
      Multimodal.dedupMedia(s, d)),
    // perceptual media near-dup: weighted SimHash over the 64-bin byte
    // histogram, LSH-banded with the hot-bucket cap, candidates verified
    // by EXACT cross-multiplied integer L1 — catches the re-encoded /
    // re-wrapped copy whose byte digest differs
    "dedup_media_perceptual" -> ((s: SparkSession, d: String) =>
      Multimodal.dedupMediaPerceptual(s, d)),
    // 2-D predicate served from the durable z-clustered table: the
    // cutpoints map (user, day-range) onto ≤4 of 32 file dirs, the scan
    // partition-prunes, the exact predicate is residual — same answer
    // as the raw-table filter (the oracle)
    "events_2d_served"      -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2d(s, d, 3L, "2024-01-03", "2024-02-15")),
    // the z-store APPEND lifecycle: base build over 3/5 of the corpus,
    // two increments assigned against the STORED cutpoints, one replayed
    // verbatim (the content-keyed ledger makes it a no-op) — served
    // result must equal the raw filter over the union corpus
    "events_2d_appended"    -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dAppended(s, d)),
    // the COMPACTION lifecycle: multi-file fid dirs rewritten to one
    // file each via the two-phase tmp+swap; compaction must be invisible
    "events_2d_compacted"   -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dCompacted(s, d)),
    // the ERASURE lifecycle (dsar_report's executable art-17 leg):
    // subject 3 tombstoned — served as the zero row a from-scratch store
    // without the subject gives; subject 5 untouched, from the SAME store
    "events_2d_erasure"     -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dErasure(s, d)),
    // batch DSAR erasure: subjects {3,9} in ONE DataFrame request plus a
    // replay and an overlapping {9,11} request — parameter point of the
    // erasure lifecycle (inventory row 167)
    "events_2d_erasure_batch" -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dErasureBatch(s, d)),
    // as-of point lookup from the pruned z-table file set
    "events_2d_asof"        -> ((s: SparkSession, d: String) =>
      Relational.eventsAsofServed(s, d)),
    // N point-range requests answered by ONE pruned scan + broadcast join
    "events_2d_batch_served" -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dBatch(s, d)),
    // N as-of lookups from one pruned scan — parameter point of row 172
    "events_2d_asof_batch"  -> ((s: SparkSession, d: String) =>
      Relational.eventsAsofBatch(s, d)),
    // RELATION-shaped batch serve: requests read from a parquet table
    // (the API-queue shape), duplicate request planted — answers once
    "events_2d_batch_rel"   -> ((s: SparkSession, d: String) =>
      Relational.eventsServed2dBatchParquet(s, d)),
    // relation-shaped batch as-of from a parquet request table
    "events_2d_asof_rel"    -> ((s: SparkSession, d: String) =>
      Relational.eventsAsofBatchParquet(s, d)),
    // multi-store DSAR orchestration: ONE subject set erased across all
    // five durable stores, evidence relation measured from the stores
    "dsar_execute"          -> ((s: SparkSession, d: String) =>
      Dsar.dsarExecute(s, d)),
    // pruning-bound calibration: measured pruned-file counts per
    // predicate family vs the z-curve's geometry worst case
    "zorder_calibration"    -> ((s: SparkSession, d: String) =>
      Relational.zorderCalibration(s, d)),
    // streaming serving-cache twin of the as-of serve: latest row per
    // (user, horizon) via one flatMapGroupsWithState record — batch
    // mode checks against the same raw-table as-of oracle
    "events_2d_asof_stateful" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val reqs = Seq((3L, "2024-01-20 00:00:00"), (5L, "2024-02-10 12:00:00"))
      val ev0 = graft.sources.Tables.events(s, d).where(col("ts").isNotNull)
      val tagged = reqs.map { case (u, t) =>
        ev0.where(col("user_id") === u &&
            col("ts") <= lit(t).cast("timestamp_ntz"))
          .select(col("user_id"), lit(t).as("horizon"), col("ts"),
            col("event_id"), col("event_type"),
            col("value").cast("double").as("value"))
      }.reduce(_ unionAll _).as[graft.streaming.AsofEvent]
      graft.streaming.StatefulAsof(tagged).toDF()
        .select(col("user_id"), col("horizon"), col("asof_us"),
          col("event_type"), col("value"))
    }),
    "dedup_simhash"         -> ((s: SparkSession, d: String) => NearDup.dedupSimhash(s, d)),
    "ngram_jaccard"         -> ((s: SparkSession, d: String) => NearDup.ngramJaccard(s, d)),
    "dedup_containment"     -> ((s: SparkSession, d: String) => NearDup.dedupContainment(s, d)),
    "dedup_incremental"     -> ((s: SparkSession, d: String) => NearDup.dedupIncremental(s, d)),
    // signature-store ERASURE lifecycle: the corpus split persisted as a
    // durable index, subject docs (id ≡ 8 mod 9) tombstoned — they
    // neither pair nor count toward the hot-bucket cap; ALSO the first
    // entry serving the incremental contract from the durable store
    "dedup_incremental_erased" -> ((s: SparkSession, d: String) =>
      NearDup.dedupIncrementalErased(s, d)),
    // — multimodal plumbing (rows-only) —
    "multimodal_meta"       -> (Multimodal.multimodalMeta _),
    "multimodal_frames"     -> (Multimodal.multimodalFrames _),
    "multimodal_resize"     -> ((s: SparkSession, d: String) => Multimodal.multimodalResize(s, d)),
    "multimodal_features"   -> (Multimodal.multimodalFeatures _),
    // — corpus preparation —
    "build_vocab"           -> ((s: SparkSession, d: String) => Corpus.buildVocab(s, d)),
    "encode_tokens"         -> (Corpus.encodeTokens _),
    "train_test_split"      -> ((s: SparkSession, d: String) => Corpus.trainTestSplit(s, d)),
    "sample_stratified"     -> ((s: SparkSession, d: String) => Corpus.stratifiedSample(s, d)),
    "sample_mixture"        -> ((s: SparkSession, d: String) => Corpus.sampleMixture(s, d)),
    // τ-sampling: targets apportioned over token-count^(1/τ) weights —
    // τ=2 the classic flattening, τ=4 nearly uniform (both sqrt-chains,
    // exact cross-engine; see the scaladoc on why pow() is banned here)
    "sample_temperature"    -> ((s: SparkSession, d: String) =>
      Corpus.sampleTemperature(s, d)),
    "sample_temperature_t4" -> ((s: SparkSession, d: String) =>
      Corpus.sampleTemperature(s, d, tau = 4)),
    "pack_sequences"        -> ((s: SparkSession, d: String) => Corpus.packSequences(s, d)),
    "chunk_documents"       -> ((s: SparkSession, d: String) => Corpus.chunkDocuments(s, d)),
    "decontaminate"         -> ((s: SparkSession, d: String) => Corpus.decontaminate(s, d)),
    // the pure-sketch screening regime: the md5-salted Bloom maybe-set
    // itself, deterministic and oracle-replayed (no exact verify pass —
    // one-sided by design, spec'd against the exact operator)
    "decontaminate_bloom"   -> ((s: SparkSession, d: String) =>
      Corpus.decontaminateBloom(s, d)),
    // the embedding-space complement (paraphrase leakage); blocked on
    // the SEEDED quantizer since r13, so the whole screen — seed choice,
    // argmin assignment, cap, verdicts — is oracle-hash-verified
    "decontaminate_semantic" -> ((s: SparkSession, d: String) =>
      Embeddings.decontaminateSemantic(s, d)),
    // the exact-scan escalation of the above (no k-means blocking, so no
    // blind spot AND no kernel dependence) — oracle-verified like the
    // other exact vector scans
    "decontaminate_semantic_exact" -> ((s: SparkSession, d: String) =>
      Embeddings.decontaminateSemanticExact(s, d)),
    "sample_exact_stratified" -> ((s: SparkSession, d: String) => Corpus.sampleExactStratified(s, d)),
    "quality_perplexity"    -> (Corpus.perplexityScore _),
    // the bigram-interpolated step toward CCNet/KenLM quality filtering
    "quality_perplexity_bigram" -> ((s: SparkSession, d: String) =>
      Corpus.perplexityBigram(s, d)),
    "corpus_shuffle"        -> ((s: SparkSession, d: String) => Corpus.corpusShuffle(s, d)),
    "length_buckets"        -> ((s: SparkSession, d: String) => Corpus.lengthBuckets(s, d)),
    "bigram_counts"         -> ((s: SparkSession, d: String) => Corpus.bigramCounts(s, d)),
    "corpus_stats"          -> ((s: SparkSession, d: String) => Corpus.corpusStats(s, d)),
    "tfidf_keywords"        -> ((s: SparkSession, d: String) => Corpus.tfidfKeywords(s, d)),
    "bigram_pmi"            -> ((s: SparkSession, d: String) => Corpus.bigramPmi(s, d)),
    "search_bm25"           -> ((s: SparkSession, d: String) => Corpus.searchBm25(s, d)),
    // MRR / NDCG@10 of the BM25 ranking vs a deterministic conjunctive-
    // containment relevance oracle — the measured retrieval-eval harness
    "retrieval_eval"        -> ((s: SparkSession, d: String) =>
      Corpus.retrievalEval(s, d)),
    // DPR-style hard-negative mining: per query the top relevant doc
    // (pos) + top-5 non-relevant BM25 hits (neg) — training triples off
    // the same single qid-tagged ranking plan as retrieval_eval
    "mine_hard_negatives"   -> ((s: SparkSession, d: String) =>
      Corpus.mineHardNegatives(s, d)),
    // k=3 parameter point on a different term set: the cut bites at a
    // different rank boundary
    "search_bm25_k3"        -> ((s: SparkSession, d: String) =>
      Corpus.searchBm25(s, d, query = "data stream sort", topK = 3)),
    // no-hit term: EMPTY result, hash-compared like search_entries_none
    "search_bm25_none"      -> ((s: SparkSession, d: String) =>
      Corpus.searchBm25(s, d, query = "zqxjkv")),
    "search_hybrid_rrf"     -> ((s: SparkSession, d: String) =>
      Embeddings.searchHybridRrf(s, d)),
    // durable-lexical-index serving paths: the index is built once per
    // (session, corpus) and both entries read it — BM25 from bucket-
    // pruned postings, the hybrid fusing that leg with the vector leg
    "search_bm25_served"    -> ((s: SparkSession, d: String) =>
      LexIndex.searchBm25Against(s, LexIndex.servedIndexPath(s, d),
        query = "customer window order part", topK = 5)),
    // the lexical store's ERASURE lifecycle (dsar_report's retrieval
    // leg): subject docs (id ≡ 3 mod 7) tombstoned + their mass
    // subtracted from the corpus constants — serving must equal a
    // from-scratch index built without them (two of this query's
    // unerased top five vanish, so the erasure visibly re-ranks)
    "search_bm25_erased"    -> ((s: SparkSession, d: String) =>
      LexIndex.searchBm25Against(s, LexIndex.erasedIndexPath(s, d),
        query = "customer window order part", topK = 5)),
    "search_hybrid_rrf_served" -> ((s: SparkSession, d: String) =>
      Embeddings.searchHybridRrfServed(s, d, LexIndex.servedIndexPath(s, d),
        query = "data stream sort", qvecId = 11)),
    // query-BATCH serving: one pruned postings read for three queries
    // (one of them hitting nothing — its leg is empty)
    "search_bm25_batch"     -> ((s: SparkSession, d: String) =>
      LexIndex.searchBm25BatchAgainst(s, LexIndex.servedIndexPath(s, d),
        Seq(1L -> "spark join window customer", 2L -> "data stream sort",
          3L -> "zqxjkv"), topK = 5)),
    "sample_weighted"       -> ((s: SparkSession, d: String) =>
      Corpus.sampleWeighted(s, d)),
    "corpus_token_budget"   -> ((s: SparkSession, d: String) =>
      Corpus.corpusTokenBudget(s, d)),
    "token_zipf"            -> ((s: SparkSession, d: String) =>
      Corpus.tokenZipf(s, d)),
    "source_jsd"            -> ((s: SparkSession, d: String) =>
      Corpus.sourceJsd(s, d)),
    "bpe_train"             -> ((s: SparkSession, d: String) =>
      Corpus.bpeTrain(s, d)),
    "bpe_encode"            -> ((s: SparkSession, d: String) =>
      Corpus.bpeEncode(s, d)),
    "bpe_fertility"         -> ((s: SparkSession, d: String) =>
      Corpus.bpeFertility(s, d)),
    "dsir_weights"          -> ((s: SparkSession, d: String) =>
      Corpus.dsirWeights(s, d)),
    // param point: a non-en target split exercises the small-target LM
    "dsir_weights_de"       -> ((s: SparkSession, d: String) =>
      Corpus.dsirWeights(s, d, targetLang = "de")),
    "dedup_spans"           -> ((s: SparkSession, d: String) =>
      Corpus.dedupSpans(s, d)),
    // param point: shorter grams collide more — the fraction rises and
    // the whole-doc short-gram rule stops firing for 8..14-token docs
    "dedup_spans_n8"        -> ((s: SparkSession, d: String) =>
      Corpus.dedupSpans(s, d, n = 8)),
    // the DESTRUCTIVE form (Lee '21's intervention): repeated ≥n-token
    // spans excised from every doc, survivors reassembled in order
    "dedup_spans_removal"   -> ((s: SparkSession, d: String) =>
      Corpus.dedupSpansRemoval(s, d)),
    // shorter grams collide more: the n=8 point removes MORE material
    // and the whole-doc rule stops firing for 8..14-token docs
    "dedup_spans_removal_n8" -> ((s: SparkSession, d: String) =>
      Corpus.dedupSpansRemoval(s, d, n = 8)),
    // UniMax water-filling token-budget allocation across sources
    "budget_waterfill"      -> ((s: SparkSession, d: String) =>
      Corpus.budgetWaterfill(s, d)),
    "quality_gopher"        -> ((s: SparkSession, d: String) =>
      TextOps.qualityGopher(s, d)),
    "pii_scan"              -> ((s: SparkSession, d: String) => TextOps.piiScan(s, d)),
    "dedup_cross_source"    -> ((s: SparkSession, d: String) => TextOps.dedupCrossSource(s, d)),
    // maxDocs=2 bites on the synthetic corpus (one text occurs in 3
    // docs); the planted-boilerplate spec drives the multi-line case
    "dedup_lines"           -> ((s: SparkSession, d: String) => TextOps.dedupLines(s, d)),
    // maxDocs=1 parameter point: the threshold bites DIFFERENTLY (any
    // line shared by ≥2 docs is boilerplate — the 3-copy text AND every
    // 2-doc line go), hash-compared like incident_report_cap
    "dedup_lines_md1"       -> ((s: SparkSession, d: String) =>
      TextOps.dedupLines(s, d, maxDocs = 1)),
    // — user-journey analytics —
    "funnel_steps"          -> ((s: SparkSession, d: String) => EventFlows.funnelSteps(s, d)),
    // windowed parameter point: each hop must convert within 1 day —
    // biting at sf0.01 (stage split 90/35/25 vs 0/0/150 unbounded)
    "funnel_steps_1d"       -> ((s: SparkSession, d: String) =>
      EventFlows.funnelSteps(s, d, withinDays = 1)),
    "retention_cohorts"     -> (EventFlows.retentionCohorts _),
    "event_transitions"     -> (EventFlows.eventTransitions _),
    // the streaming twin aggregated to the same relation — batch mode
    // sees each user whole, reproducing lead() exactly, so the SAME
    // oracle checks both (the sessionize_stateful pairing)
    "event_transitions_stateful" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(s, d)
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[graft.streaming.TransEvent]
      EventFlows.transitionProbabilities(
        graft.streaming.StatefulTransitions(ev).toDF())
    }),
    // fixed-budget PageRank over the transition graph; the registered
    // path iterates driver-side under the bounded-graph gate, the _dist
    // twin forces the distributed join-loop — byte-identical (spec'd),
    // so all three share the generated unrolled-CTE oracle
    "pagerank"              -> ((s: SparkSession, d: String) =>
      Graphs.pagerank(s, d)),
    "pagerank_i3"           -> ((s: SparkSession, d: String) =>
      Graphs.pagerank(s, d, iters = 3)),
    "pagerank_dist"         -> ((s: SparkSession, d: String) =>
      Graphs.pagerankFrom(graft.sources.Tables.events(s, d),
        Graphs.DefaultIters, driverCap = 0L)),
    // weighted label propagation: community labels on the undirected
    // transition graph — exact integers + string tie-breaks, no floats;
    // the _dist twin forces the distributed round loop (same oracle)
    "label_propagation"     -> ((s: SparkSession, d: String) =>
      Graphs.labelPropagation(s, d)),
    "label_propagation_dist" -> ((s: SparkSession, d: String) =>
      Graphs.labelPropagationFrom(graft.sources.Tables.events(s, d),
        Graphs.LpaRounds, driverCap = 0L)),
    // degree-ordered triangle counting + local clustering coefficient
    // on the undirected transition graph — all-integer until the one
    // fixed-order clustering ratio
    "graph_triangles"       -> ((s: SparkSession, d: String) =>
      Graphs.triangleCount(s, d)),
    // robust (median/MAD) spike detection — the breakdown-resistant twin
    // of anomaly_spikes; explicit sorted-array medians, no engine
    // percentile semantics in the contract (+ a tighter-k point)
    "anomaly_mad"           -> ((s: SparkSession, d: String) =>
      Series.anomalyMad(s, d)),
    "anomaly_mad_k2"        -> ((s: SparkSession, d: String) =>
      Series.anomalyMad(s, d, k = 2.0)),
    // exponential smoothing over the gap-filled timeline: pinned
    // day-ordered left fold, exact-binary alphas (+ a faster-decay point)
    "metrics_ewma"          -> ((s: SparkSession, d: String) =>
      Series.metricsEwma(s, d)),
    "metrics_ewma_a5"       -> ((s: SparkSession, d: String) =>
      Series.metricsEwma(s, d, alpha = 0.5)),
    // pairwise Pearson r between event types' daily series from exact
    // integer sums (never the engines' merge-order-dependent corr())
    "corr_pairs"            -> ((s: SparkSession, d: String) =>
      Series.corrPairs(s, d)),
    // corpus-level source-pair shingle-set Jaccard — the contamination
    // diagnostic behind held-out-by-source splits; full pair grid
    "source_overlap"        -> ((s: SparkSession, d: String) =>
      TextOps.sourceOverlap(s, d)),
    // ASCII-alphabet char entropy per doc — the gibberish signal next
    // to text_quality's ratios; in-row, zero shuffles
    "text_entropy"          -> ((s: SparkSession, d: String) =>
      TextOps.textEntropy(s, d)),
    // order-3 sequential patterns past event_transitions' bigrams —
    // one user-keyed shuffle onto a |types|^3-bounded relation
    "event_trigrams"        -> ((s: SparkSession, d: String) =>
      EventFlows.eventTrigrams(s, d)),
    // global percentile rank per user WITHOUT a global sort: the
    // count-of-counts histogram decomposition (the oracle runs the
    // naive single-reducer window — same answer, opposite scale story)
    "user_percentiles"      -> ((s: SparkSession, d: String) =>
      Relational.userPercentiles(s, d)),
    // forward-fill (LOCF) imputation of per-level daily value totals
    // over the shared gap-filled day grid
    "metrics_locf"          -> ((s: SparkSession, d: String) =>
      Series.metricsLocf(s, d)),
    // trailing rolling MEDIAN over the zero-filled grid — the robust
    // trend line beside the box mean and the EWMA (+ a 3-day point)
    "metrics_rolling_median" -> ((s: SparkSession, d: String) =>
      Series.metricsRollingMedian(s, d)),
    "metrics_rolling_median_3d" -> ((s: SparkSession, d: String) =>
      Series.metricsRollingMedian(s, d, days = 3)),
    // TPC-H Q6 shape: the pure scan-aggregate benchmark point (zero
    // joins; every predicate must reach PushedFilters)
    "q6_forecast_revenue"   -> ((s: SparkSession, d: String) =>
      Relational.q6ForecastRevenue(s, d)),
    // TPC-H Q10 shape: returned-item revenue per customer, fact⋈fact on
    // the shuffle key, dims broadcast, deterministic top-20
    "q10_top_returns"       -> ((s: SparkSession, d: String) =>
      Relational.q10TopReturns(s, d)),
    // TPC-H Q14 shape: conditional aggregation over a broadcast part
    // join — covers the last untouched dimension table
    "q14_promo_share"       -> ((s: SparkSession, d: String) =>
      Relational.q14PromoShare(s, d)),
    // TPC-H Q4 shape: the EXISTS semi-join (LeftSemi — no fan-out, no
    // DISTINCT repair); ~52% of windowed orders qualify at sf0.01
    "q4_order_priority"     -> ((s: SparkSession, d: String) =>
      Relational.q4OrderPriority(s, d)),
    // TPC-H Q13 shape: outer-join histogram with the filter in the ON
    // clause — zero-order customers stay in the histogram at bucket 0
    "q13_customer_distribution" -> ((s: SparkSession, d: String) =>
      Relational.q13CustomerDistribution(s, d)),
    // TPC-H Q22 shape: scalar-subquery average + LeftAnti dormancy test
    // against the date-pruned orders scan
    "q22_dormant_customers" -> ((s: SparkSession, d: String) =>
      Relational.q22DormantCustomers(s, d)),
    // bucketed interval join: arbitrary [start,end] windows (top-20
    // sessions ±5 min) meet the fact through a bin equi-join + residual
    // range filter — never a nested-loop range join
    "interval_join"         -> ((s: SparkSession, d: String) =>
      JoinOps.intervalJoinEvents(s, d)),
    // exact join-cardinality probe: a prospective join's output size,
    // hottest key, and amplification from the per-key count relations —
    // without materializing one joined row
    "join_size_probe"       -> ((s: SparkSession, d: String) =>
      Relational.joinSizeProbe(s, d)),
    // z-order layout plan: 16×16 equi-depth buckets over (user, day)
    // bit-interleaved into 32 target files — both dimensions' file
    // fan-in bounded (≤4 / ≤8 of 32), which no 1-D sort gives
    "layout_zorder"         -> ((s: SparkSession, d: String) =>
      Relational.layoutZorder(s, d)),
    // CCNet head/middle/tail: per-language perplexity terciles from
    // sampled cutoffs — the LM-based quality split of CCNet/RedPajama
    "ccnet_buckets"         -> ((s: SparkSession, d: String) =>
      Corpus.ccnetBuckets(s, d)),
    // k-anonymity / l-diversity audit over the (event_type, day)
    // quasi-identifier — the pre-release privacy gate next to pii_scan
    "k_anonymity"           -> ((s: SparkSession, d: String) =>
      LogOps.kAnonymity(s, d)),
    // runtime-filter join: a k=2 md5 Bloom over the selective build
    // side's keys prunes the fact SCAN-side before any shuffle; false
    // positives die in the join, so the plain join IS the oracle
    "bloom_pruned_join"     -> ((s: SparkSession, d: String) =>
      JoinOps.bloomPrunedJoin(s, d)),
    // SCD type-2 state history: gaps-and-islands run collapse into
    // validity intervals — the warehouse dimension-history build
    "scd2_intervals"        -> ((s: SparkSession, d: String) =>
      EventFlows.scd2Intervals(s, d)),
    // streaming SCD2 twin (the sessionize_stateful pairing): closed
    // intervals emit on state change, batch mode ≡ the window twin →
    // same oracle
    "scd2_stateful"         -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(s, d)
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .as[graft.streaming.Scd2Event]
      graft.streaming.StatefulScd2(ev).toDF()
        .select(col("user_id"), col("state_seq"), col("state"),
          date_format(col("valid_from"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
          date_format(col("valid_to"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
          col("n_events"))
    }),
    // small-file compaction planning: ordered day runs coalesced into
    // ~target-row merge groups via an exclusive prefix sum
    "compaction_plan"       -> ((s: SparkSession, d: String) =>
      Relational.compactionPlan(s, d)),
    // dbt/Deequ-style contract gate: referential integrity, key
    // uniqueness, NOT-NULL rates — one row per check
    "dq_checks"             -> ((s: SparkSession, d: String) =>
      Relational.dqChecks(s, d)),
    // lang_id confusion matrix + per-class recall — the measured eval
    // of the classifier the routing operators depend on
    "lang_id_eval"          -> ((s: SparkSession, d: String) =>
      TextOps.langIdEval(s, d)),
    // Naive Bayes quality classifier trained on the Gopher verdict —
    // the closed-form supervised leg of the quality family; the fitted
    // model is an exact integer-count function, fully SQL-replayable
    "quality_nb"            -> ((s: SparkSession, d: String) =>
      Corpus.qualityNb(s, d)),
    // fixed-budget min-label communities over the source-overlap graph
    // (not weighted LPA: see TextOps.sourceCommunities) — two r16
    // operators composed through one shared gram relation; edges by the
    // exact integer Jaccard >= 1/10 test
    "source_communities"    -> ((s: SparkSession, d: String) =>
      TextOps.sourceCommunities(s, d)),
    // per-column profiling (row/NULL/exact-distinct counts) — the
    // ANALYZE-TABLE pass, one Expand-based aggregation over the scan
    "profile_events"        -> ((s: SparkSession, d: String) =>
      Relational.profileEvents(s, d)),
    "profile_documents"     -> ((s: SparkSession, d: String) =>
      Relational.profileDocuments(s, d))
  )

  /** The NRQL-ingest oracle at a parameter point (mirror of
    * [[graft.operators.LogOps.ingestErrors]]'s window/filter/limit). */
  /** Shared by `sessionize` and `sessionize_native` — the window-function
    * and built-in session_window plans must agree session-for-session. */
  /** Shared by the window and stateful SCD2 twins (both reproduce the
    * same island collapse; the stateful twin emits the identical rows
    * in batch mode). */

  /** One oracle per oracle-carrying query entry — the union of the
    * split chunks (r19); RegistrySpec asserts the union against the
    * registry and the SURVEY counts. */
  def oracleSql: Map[String, String] =
    oracleSqlCore ++ oracleSqlRestA ++ oracleSqlRestB
}
