package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.query.Relational
import graft.ext.{Dedup, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every batch-expressible operator from SURVEY.md §2 is registered here as
  * a named query over the fixture tables (§2.7), with a DuckDB oracle where
  * the semantics are ANSI-SQL-expressible. Near-dup/LSH/heuristic operators
  * whose exact outputs are engine-specific are registered without an oracle
  * (rows-only check) and pinned by ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  // the north-star composition (dedup clusters + repetition + quality in
  // one declarative plan) — the query this library exists to run
  def entry(spark: SparkSession): DataFrame =
    graft.ext.Corpus.cleanCorpusQuery(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 Datalog query surface
    "scan_project"        -> (Relational.scanProject(_, _)),
    "filter_eq"           -> (Relational.filterEq(_, _)),
    "filter_range"        -> (Relational.filterRange(_, _)),
    "filter_string_pred"  -> (Relational.filterStringPred(_, _)),
    "entity_lookup"       -> (Relational.entityLookup(_, _)),
    "join_equi"           -> (Relational.joinEqui(_, _)),
    "join_multiway"       -> (Relational.joinMultiway(_, _)),
    "join_anti"           -> (Relational.joinAnti(_, _)),
    // one query body, kept under both gate names
    "join_asof"           -> (graft.plans.AsOfJoin.asofJoinQuery(_, _)),
    "join_asof_native"    -> (graft.plans.AsOfJoin.asofJoinQuery(_, _)),
    "scale_salted_agg"    -> (graft.query.Scale.saltedAggQuery(_, _)),
    "scale_zorder"        -> (graft.query.Scale.zorderQuery(_, _)),
    "scale_bucketed_join" -> (graft.query.Scale.bucketedJoinQuery(_, _)),
    "join_range_binned"   -> (graft.query.Scale.rangeJoinQuery(_, _)),
    "scale_bloom_join"    -> (graft.query.Scale.bloomJoinQuery(_, _)),
    // graph centrality: fixed-round integer PageRank over the trade graph
    "graph_pagerank"      -> (graft.ext.Graph.pageRankQuery(_, _)),
    "join_semi"           -> (Relational.joinSemi(_, _)),
    "union_or"            -> (Relational.unionOr(_, _)),
    "distinct_projection" -> (Relational.distinctProjection(_, _)),
    "agg_group_by"        -> (Relational.aggGroupBy(_, _)),
    "agg_rollup"          -> (Relational.aggRollup(_, _)),
    "agg_cube"            -> (Relational.aggCube(_, _)),
    "agg_count_distinct"  -> (Relational.aggCountDistinct(_, _)),
    "sketch_distinct_kmv" -> (Relational.sketchDistinctKmv(_, _)),
    "sketch_quantile_sample" -> (Relational.sketchQuantileSample(_, _)),
    "sketch_heavy_hitters" -> (TextOps.heavyHittersQuery(_, _)),
    "agg_min_max"         -> (Relational.aggMinMax(_, _)),
    "agg_stats"           -> (Relational.aggStats(_, _)),
    "order_by_limit"      -> (Relational.orderByLimit(_, _)),
    "order_by_offset"     -> (Relational.orderByOffset(_, _)),
    "rule_view"           -> (Relational.ruleView(_, _)),
    "recursive_reach"     -> (Relational.recursiveReach(_, _)),
    // §2.1/§1.1 bitemporal document store (batch views)
    "asof_snapshot"       -> (Relational.asofSnapshot(_, _)),
    // crux with-tx: snapshot AS IF a speculative batch committed
    "asof_speculative"    -> (Relational.asofSpeculative(_, _)),
    // crux attribute-stats: JSON-key discovery over the snapshot docs
    "store_attr_stats"    -> (Relational.storeAttrStats(_, _)),
    "bitemporal_asof"     -> (Relational.bitemporalAsof(_, _)),
    "asof_history"        -> (Relational.asofHistory(_, _)),
    "store_changes"       -> (Relational.storeChanges(_, _)),
    // §2.5 scalar-function surface
    "time_truncate"       -> (Relational.timeTruncate(_, _)),
    // dense per-user daily grid, gap days zero-filled
    "ts_resample"         -> (Relational.tsResampleQuery(_, _)),
    // per-user consecutive value deltas in (ts, event_id) order
    "ts_delta"            -> (Relational.tsDeltaQuery(_, _)),
    // per-event anomaly z-scores vs the key's own exact moments
    "ts_zscore"           -> (Relational.tsZscoreQuery(_, _)),
    // 7-day rolling totals over the dense (gap-filled) grid
    "ts_rolling"          -> (Relational.tsRollingQuery(_, _)),
    // retention triangle: first-activity cohorts x day offsets
    "ts_retention"        -> (Relational.tsRetentionQuery(_, _)),
    // ordered view->click->purchase funnel, users per stage reached
    "ts_funnel"           -> (Relational.tsFunnelQuery(_, _)),
    // Markov transition table: (prev event type -> type) counts
    "ts_transitions"      -> (Relational.tsTransitionsQuery(_, _)),
    "time_next_day"       -> (Relational.timeNextDay(_, _)),
    "json_extract"        -> (Relational.jsonExtract(_, _)),
    // §2.3 streaming dataflow, batch-equivalent
    "stream_map_filter_batch" -> (Relational.streamMapFilterBatch(_, _)),
    "stream_windowed_agg"     -> (Relational.streamWindowedAggBatch(_, _)),
    "stream_sessionize"       -> (Relational.streamSessionizeBatch(_, _)),
    "stream_interval_join"    -> (graft.stream.StreamJoin.intervalJoinQuery(_, _)),
    "stream_windowed_distinct" -> (Relational.streamWindowedDistinctBatch(_, _)),
    "stream_quota_admit"  -> (Relational.streamQuotaAdmitBatch(_, _)),
    "stream_windowed_topk"     -> (Relational.streamWindowedTopkBatch(_, _)),
    // §2.2 Datalog compiler end-to-end (triple patterns → Catalyst plan)
    "datalog_query"       -> (graft.query.datalog.DatalogDb.datalogQuery(_, _)),
    "datalog_edn"         -> (graft.query.datalog.DatalogDb.datalogEdnQuery(_, _)),
    "datalog_timeout"     -> (graft.query.datalog.DatalogDb.datalogTimeoutQuery(_, _)),
    "datalog_sample"      -> (graft.query.datalog.DatalogDb.datalogSampleQuery(_, _)),
    // mutually recursive rules (odd/even path parity, combined SCC fixpoint)
    "datalog_mutual"      -> (graft.query.datalog.DatalogDb.datalogMutualQuery(_, _)),
    // crux (pull ?e [:attr ...]) :find projection, flattened for compare
    "datalog_pull"        -> (graft.query.datalog.DatalogDb.datalogPullQuery(_, _)),
    // nested pull {:ref [sub...]} — child doc joined through the ref attr
    "datalog_pull_nested" -> (graft.query.datalog.DatalogDb.datalogPullNestedQuery(_, _)),
    // EQL attribute options: :as renames, :default fills absent attrs
    "datalog_pull_opts"   -> (graft.query.datalog.DatalogDb.datalogPullOptsQuery(_, _)),
    // unbounded recursive pull {:link ...} — depth discovered from data
    "datalog_pull_recursive" -> (graft.query.datalog.DatalogDb.datalogPullRecursiveQuery(_, _)),
    // :with — duplicate-preserving aggregation (dedup includes :with vars)
    "datalog_with"        -> (graft.query.datalog.DatalogDb.datalogWithQuery(_, _)),
    // crux :keys result-map names (positional rename, agg-first find order)
    "datalog_keys"        -> (graft.query.datalog.DatalogDb.datalogKeysQuery(_, _)),
    // crux :in bindings — collection (substitution path, pushdown per branch)
    "datalog_in_coll"     -> (graft.query.datalog.DatalogDb.datalogInCollQuery(_, _)),
    // crux :in relation at 20 rows — the broadcast-join path
    "datalog_in_rel"      -> (graft.query.datalog.DatalogDb.datalogInRelQuery(_, _)),
    "datalog_bind_arith"  -> (graft.query.datalog.DatalogDb.datalogBindArithQuery(_, _)),
    // north-star LLM-pipeline extensions
    "dedup_exact"         -> (Dedup.dedupExactQuery(_, _)),
    "dedup_minhash"       -> (Dedup.minhashQuery(_, _)),
    "dedup_simhash"       -> (Dedup.simhashQuery(_, _)),
    "dedup_ngram_jaccard" -> (Dedup.ngramJaccardQuery(_, _)),
    "dedup_stream_filter" -> (Dedup.streamFilterQuery(_, _)),
    "dedup_clusters"      -> (Dedup.dedupClustersQuery(_, _)),
    // quality-aware canonical pick: keep the BEST member per dup cluster
    "dedup_canonical_best" -> (Dedup.dedupCanonicalBestQuery(_, _)),
    "dedup_embedding_lsh" -> (Dedup.embeddingLshQuery(_, _)),
    "dedup_semantic"      -> (Dedup.semanticDedupQuery(_, _)),
    "similarity_topk"     -> (Similarity.similarityTopK(_, _)),
    "similarity_ivf"      -> (Similarity.similarityIvfQuery(_, _)),
    "similarity_knn_join" -> (Similarity.similarityKnnJoinQuery(_, _)),
    "similarity_pq"       -> (Similarity.similarityPqQuery(_, _)),
    // k-means topic clustering + per-cluster label purity stats
    "corpus_cluster_stats" -> (Similarity.clusterStatsQuery(_, _)),
    "text_stats"          -> (TextOps.textStats(_, _)),
    "token_count"         -> (TextOps.tokenCountQuery(_, _)),
    "token_count_bpe"     -> (TextOps.tokenCountBpeQuery(_, _)),
    "text_analysis"       -> (TextOps.textAnalysisQuery(_, _)),
    "text_fingerprint"    -> (TextOps.fingerprintQuery(_, _)),
    "text_dup_spans"      -> (TextOps.duplicatedSpansQuery(_, _)),
    "text_despanned"      -> (TextOps.removeDuplicatedSpansQuery(_, _)),
    "text_quality"        -> (TextOps.textQualityQuery(_, _)),
    "text_repetition"     -> (TextOps.textRepetitionQuery(_, _)),
    "text_top_terms"      -> (TextOps.textTopTermsQuery(_, _)),
    "text_scrub_pii"      -> (TextOps.scrubPiiQuery(_, _)),
    // Unicode NFC + control-strip canonicalization (native expression)
    "text_normalize"      -> (TextOps.normalizeQuery(_, _)),
    "multimodal_pipeline" -> (graft.ext.Multimodal.multimodalQuery(_, _)),
    "multimodal_frames"   -> (graft.ext.Multimodal.frameSampleQuery(_, _)),
    // REAL RIFF/PCM WAV parse vs an analytic replay of the synth formula
    "multimodal_wav_decode" -> (graft.ext.Multimodal.wavDecodeQuery(_, _)),
    // REAL 24bpp BMP parse (both row origins) vs the analytic gradient
    "multimodal_bmp_decode" -> (graft.ext.Multimodal.bmpDecodeQuery(_, _)),
    // REAL PNG parse (zlib inflate + all 5 filters) vs the analytic gradient
    "multimodal_png_decode" -> (graft.ext.Multimodal.pngDecodeQuery(_, _)),
    // REAL resize: PNG → nearest-neighbor → BMP → re-decode, analytic replay
    "multimodal_resize_decode" -> (graft.ext.Multimodal.resizeDecodeQuery(_, _)),
    // REAL audio framing: 160-sample windows + integer energy per frame
    "multimodal_audio_frames" -> (graft.ext.Multimodal.audioFramesQuery(_, _)),
    // REAL G.711 µ-law expansion inside the RIFF parser, analytic replay
    "multimodal_ulaw_decode" -> (graft.ext.Multimodal.ulawDecodeQuery(_, _)),
    // north-star composition: dedup clusters + repetition + quality
    "pipeline_clean_corpus" -> (graft.ext.Corpus.cleanCorpusQuery(_, _)),
    // filter audit: every doc's keep/drop outcome + the first failing rule
    "corpus_clean_audit"    -> (graft.ext.Corpus.cleanCorpusAuditQuery(_, _)),
    // training-mix construction: per-language token budgets
    "corpus_token_mix"      -> (graft.ext.Corpus.tokenBudgetMixQuery(_, _)),
    // α=0.5 temperature flattening of the per-source token distribution
    "corpus_temperature_mix" -> (graft.ext.Corpus.temperatureMixQuery(_, _)),
    // benchmark decontamination: train-vs-eval n-gram overlap
    "corpus_decontam"       -> (graft.ext.Corpus.decontamQuery(_, _)),
    // eval-side Bloom bitmap decontamination (fixed-size probe broadcast)
    "corpus_bloom_decontam" -> (graft.ext.Corpus.bloomDecontamQuery(_, _)),
    // fuzzy decontamination: cross-corpus MinHash-LSH near-dup flagging
    "corpus_fuzzy_decontam" -> (graft.ext.Corpus.fuzzyDecontamQuery(_, _)),
    // the eval-side view: which benchmarks are compromised, how badly
    "corpus_decontam_report" -> (graft.ext.Corpus.fuzzyDecontamReportQuery(_, _)),
    // sequence packing: fixed-capacity training windows, per-shard offsets
    "corpus_pack_sequences" -> (graft.ext.Corpus.packSequencesQuery(_, _)),
    // per-language data-card summary (integer-exact)
    "corpus_stats_report"   -> (graft.ext.Corpus.statsReportQuery(_, _)),
    // adaptive per-language quality percentile (integer-exact ranks)
    "corpus_quality_topfrac" -> (graft.ext.Corpus.topQualityFracQuery(_, _)),
    // min-count vocabulary (BPE/WordPiece seeding, OOV-rate checks)
    "corpus_vocab"           -> (graft.ext.Corpus.vocabularyQuery(_, _)),
    // per-doc OOV occurrence rate vs the vocab (tokenizer-fit metric)
    "corpus_oov_rate"        -> (graft.ext.Corpus.oovRateQuery(_, _)),
    // BPE merge learning: one corpus pass, then vocab-bounded merge rounds
    "corpus_bpe_merges"      -> (graft.ext.Corpus.bpeMergesQuery(_, _)),
    // BPE application: subword-segment the corpus with the learned merges
    "corpus_bpe_tokenize"    -> (graft.ext.Corpus.bpeTokenizeQuery(_, _)),
    // domain balancing: best-quality cap per source
    "corpus_cap_source"      -> (graft.ext.Corpus.capPerSourceQuery(_, _)),
    // partition-stable train/val/test assignment
    "corpus_split"           -> (graft.ext.Corpus.assignSplitsQuery(_, _)),
    // stratified exact-count sampling (per-language held-out sets)
    "corpus_sample_stratified" -> (graft.ext.Corpus.sampleStratifiedQuery(_, _)),
    // CCNet-style bigram-LM negative log-likelihood vs a reference slice
    "corpus_perplexity"      -> (graft.ext.Corpus.lmPerplexityQuery(_, _)),
    // CCNet head/middle/tail: per-language perplexity terciles
    "corpus_ccnet_buckets"   -> (graft.ext.Corpus.ccnetBucketsQuery(_, _)),
    // trained quality classifier: logistic regression on hashed features
    "corpus_quality_classifier" -> (graft.ext.Corpus.qualityClassifierQuery(_, _)),
    // DSIR importance weights (hashed n-gram features vs a target slice)
    "corpus_dsir"            -> (graft.ext.Corpus.dsirWeightsQuery(_, _)),
    // DSIR selection: per-language top-frac by importance weight
    "corpus_dsir_select"     -> (graft.ext.Corpus.dsirSelectQuery(_, _)),
    // end-to-end materialization: clean → split → pack → shard manifest
    "corpus_training_shards" -> (graft.ext.Corpus.trainingShardsQuery(_, _)),
    // boilerplate-line removal (CCNet-style df threshold)
    "text_boilerplate"       -> (TextOps.boilerplateQuery(_, _)),
    // within-doc repeated-line removal (C4/RefinedWeb step)
    "text_dedup_lines"       -> (TextOps.dedupLinesQuery(_, _)),
    // BM25 ranked retrieval: top-k docs for a bag-of-terms query
    "text_bm25_topk"         -> (TextOps.bm25Query(_, _)),
    // span-level decontamination: cut leaked benchmark windows, keep the doc
    "text_despan_reference"  -> (TextOps.despanReferenceQuery(_, _)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Float-summing queries use exact DECIMAL casts on
    * BOTH sides so results are independent of aggregation order.
    *
    * No key is omitted — every registered query is DuckDB-oracled.
    * multimodal_pipeline replays because its stub codecs are deliberately
    * md5/byte-length arithmetic (the real-media decode boundary stays
    * pinned by MultimodalSpec).
    * The hash/LSH gates (dedup_minhash, dedup_simhash, text_analysis,
    * dedup_embedding_lsh) are NOT omitted: signatures are md5-prefix
    * integers + affine permutations / scramble sign bits — exact int64
    * arithmetic both engines compute identically — so the full LSH
    * pipelines replay in DuckDB. */
  /** The DSIR weights pipeline's CTE chain, shared verbatim by the
    * `corpus_dsir` and `corpus_dsir_select` oracles — one spelling, so a
    * future fix can't drift the two gates apart (the same dedup precedent
    * as the quality-score spelling). */
  /** The BPE training loop replayed as chained CTEs — one (pairs → argmax
    * → merge) step per round, generated to stay textually in lockstep with
    * `Corpus.bpeMerges`. MATERIALIZED is load-bearing: each round
    * references the previous word table twice, so DuckDB's default CTE
    * inlining would expand the chain 2^rounds times. */
  private def bpeTrainCtes(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
           SELECT freq, '|' || array_to_string(regexp_split_to_array(w, ''), '||') || '|' AS seq
           FROM (
             SELECT w, count(*) AS freq FROM (
               SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
               FROM documents
             ) WHERE regexp_full_match(w, '[a-z0-9]+')
             GROUP BY w
           )
         )"""
    val steps = (1 to rounds).map { i =>
      s"""p$i AS (
           SELECT list_extract(s, x) AS l, list_extract(s, x + 1) AS r,
             CAST(sum(freq) AS BIGINT) AS c
           FROM (SELECT string_split(trim(seq, '|'), '||') AS s, freq FROM w${i - 1}),
                UNNEST(generate_series(1, len(s) - 1)) AS t(x)
           GROUP BY 1, 2
         ), b$i AS MATERIALIZED (
           SELECT $i AS round, l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1
         ), w$i AS MATERIALIZED (
           SELECT freq, replace(seq, '|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|') AS seq
           FROM w${i - 1}, b$i AS b
         )"""
    }
    (w0 +: steps).mkString(",\n         ")
  }

  private def bpeMergesOracle(rounds: Int): String = {
    val union = (1 to rounds)
      .map(i => s"SELECT round, l AS lhs, r AS rhs, c AS pair_count FROM b$i")
      .mkString("\n         UNION ALL\n         ")
    s"WITH ${bpeTrainCtes(rounds)}\n         $union"
  }

  /** The APPLY side replayed on top of the training chain: re-derive the
    * merges (same CTEs as [[bpeMergesOracle]]), then run every document
    * word through the 10 replaces in training order and count subwords. */
  private def bpeTokenizeOracle(rounds: Int): String = {
    val d0 =
      """d0 AS MATERIALIZED (
           SELECT doc_id, '|' || array_to_string(regexp_split_to_array(w, ''), '||') || '|' AS seq
           FROM (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
             FROM documents
           ) WHERE regexp_full_match(w, '[a-z0-9]+')
         )"""
    val applies = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
           SELECT doc_id, replace(seq, '|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|') AS seq
           FROM d${i - 1}, b$i AS b
         )"""
    }
    s"""WITH ${bpeTrainCtes(rounds)},
         ${(d0 +: applies).mkString(",\n         ")}
         SELECT doc_id, count(*) AS n_words,
           CAST(sum(len(string_split(trim(seq, '|'), '||'))) AS BIGINT) AS n_subwords
         FROM d$rounds GROUP BY doc_id"""
  }

  /** corpus_quality_classifier: the WHOLE logistic-regression training
    * loop replays — labeled set (docs + md5-token gibberish twins), the
    * DSIR feature-bucket spelling, then per round: integer logits from
    * q6 weights, per-doc q6-rounded sigmoid gradient, integer per-bucket
    * sums, floor(grad/(4n)) weight step — and the final q6 scores. */
  private def qualityClassifierOracle(rounds: Int, buckets: Int): String = {
    val base = s"""WITH lab AS (
           SELECT doc_id, 1 AS y, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000 AS doc_id, 0 AS y,
             array_to_string([substring(md5(CAST(doc_id AS VARCHAR) || ':' || i), 1, 8)
                              for i in generate_series(1, 20)], ' ') AS text
           FROM documents
         ), tok AS (
           SELECT doc_id, y, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM lab
         ), seq AS (
           SELECT doc_id, y, unnest(t) AS tk, generate_subscripts(t, 1) AS pos FROM tok
         ), bgp AS (
           SELECT doc_id, y, tk AS w1,
             lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM seq
         ), feats AS (
           SELECT doc_id, y, tk AS f FROM seq
           UNION ALL
           SELECT doc_id, y, w1 || ' ' || w2 AS f FROM bgp WHERE w2 IS NOT NULL
         ), cnts AS (
           SELECT doc_id, y, ('0x' || substring(md5(f), 1, 7))::BIGINT % $buckets AS b,
             count(*) AS cnt
           FROM feats GROUP BY 1, 2, 3
         ), nd AS (SELECT count(*) AS n FROM lab
         ), w0 AS (
           SELECT b, CAST(0 AS BIGINT) AS w FROM generate_series(0, ${buckets - 1}) g(b)
         )"""
    val roundCtes = (1 to rounds).map { r =>
      s""", z$r AS (
           SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z
           FROM cnts JOIN w${r - 1} USING (b) GROUP BY doc_id, y
         ), g$r AS (
           SELECT doc_id,
             CAST(floor((1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1e6)) - CAST(y AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS g
           FROM z$r
         ), gr$r AS (
           SELECT b, CAST(sum(g * cnt) AS BIGINT) AS gr
           FROM cnts JOIN g$r USING (doc_id) GROUP BY b
         ), w$r AS (
           SELECT wp.b,
             CAST(wp.w - floor(CAST(coalesce(gr, 0) AS DOUBLE) / (4.0 * n)) AS BIGINT) AS w
           FROM w${r - 1} wp LEFT JOIN gr$r USING (b) CROSS JOIN nd
         )"""
    }.mkString
    base + roundCtes + s"""
         SELECT doc_id, y AS label,
           CAST(floor(1.0 / (1.0 + exp(-CAST(z AS DOUBLE) / 1e6)) * 1e6 + 0.5) AS BIGINT) AS score_q6
         FROM (SELECT doc_id, y, CAST(sum(cnt * w) AS BIGINT) AS z
               FROM cnts JOIN w$rounds USING (b) GROUP BY doc_id, y)"""
  }

  /** Shared CTE chain of the add-one-bigram LM scorer (train on the 1-in-5
    * reference slice, q6-rounded per-bigram logprobs, exact-integer doc
    * NLLs) — `corpus_perplexity` reads `nll` directly and
    * `corpus_ccnet_buckets` layers the tercile assignment on it. */
  private val lmNllCtes: String =
    """tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), seq AS (
           SELECT doc_id, unnest(t) AS tk, generate_subscripts(t, 1) AS pos FROM tok
         ), bg AS (
           SELECT doc_id, tk AS w1,
             lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM seq
         ), runi AS (
           SELECT tk AS w1, count(*) AS c1 FROM seq WHERE doc_id % 5 = 0 GROUP BY tk
         ), vv AS (SELECT count(*) AS v FROM runi
         ), rbg AS (
           SELECT w1, w2, count(*) AS c12 FROM bg
           WHERE doc_id % 5 = 0 AND w2 IS NOT NULL GROUP BY w1, w2
         ), scored AS (
           SELECT d.doc_id,
             CAST(floor(ln(CAST(coalesce(r.c12, 0) + 1 AS DOUBLE) /
                           CAST(coalesce(u.c1, 0) + vv.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lp
           FROM bg d
           LEFT JOIN rbg r ON d.w1 = r.w1 AND d.w2 = r.w2
           LEFT JOIN runi u ON d.w1 = u.w1
           CROSS JOIN vv
           WHERE d.w2 IS NOT NULL
         ), nll AS (
           SELECT doc_id, count(*) AS n_bigrams, CAST(-sum(lp) AS BIGINT) AS nll_q6
           FROM scored GROUP BY doc_id
         )"""

  private val dsirWeightCtes: String =
    """tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), seq AS (
           SELECT doc_id, unnest(t) AS tk, generate_subscripts(t, 1) AS pos FROM tok
         ), bg AS (
           SELECT doc_id, tk AS w1,
             lead(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM seq
         ), feats AS (
           SELECT doc_id, tk AS f FROM seq
           UNION ALL
           SELECT doc_id, w1 || ' ' || w2 AS f FROM bg WHERE w2 IS NOT NULL
         ), fb AS (
           SELECT doc_id, ('0x' || substring(md5(f), 1, 7))::BIGINT % 10007 AS b FROM feats
         ), tb AS (
           SELECT b, count(*) AS ct FROM fb WHERE doc_id % 5 = 0 GROUP BY b
         ), rb AS (
           SELECT b, count(*) AS cr FROM fb GROUP BY b
         ), nt AS (SELECT sum(ct) AS nt FROM tb
         ), nr AS (SELECT sum(cr) AS nr FROM rb
         ), ratio AS (
           SELECT g.b, CAST(floor(
             (ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(nt + 10007 AS DOUBLE)) -
              ln(CAST(coalesce(cr, 0) + 1 AS DOUBLE) / CAST(nr + 10007 AS DOUBLE))) * 1e6 + 0.5)
             AS BIGINT) AS lr_q6
           FROM generate_series(0, 10006) g(b)
           LEFT JOIN tb ON g.b = tb.b LEFT JOIN rb ON g.b = rb.b
           CROSS JOIN nt CROSS JOIN nr
         ), w AS (
           SELECT doc_id, count(*) AS n_features,
             CAST(sum(lr_q6) AS BIGINT) AS dsir_weight_q6
           FROM fb JOIN ratio ON fb.b = ratio.b GROUP BY doc_id
         )"""

  def oracleSql: Map[String, String] =
    oracleSqlBase + ("corpus_training_shards" -> trainingShardsOracle) +
      ("ts_rolling" -> tsRollingOracle) +
      ("corpus_decontam_report" -> decontamReportOracle) +
      ("graph_pagerank" -> pageRankOracle) +
      ("corpus_cluster_stats" -> clusterStatsOracle) +
      ("dedup_canonical_best" -> canonicalBestOracle) +
      ("corpus_clean_audit" -> cleanAuditOracle)

  /** corpus_clean_audit: the pipeline_clean_corpus replay verbatim up to
    * its final SELECT (one source of truth for every signal and
    * threshold), with the conjunction re-expressed as a first-failing-rule
    * CASE — the precedence mirrors Corpus.cleanCorpusAudit exactly, so a
    * drift between the keep-set here and pipeline_clean_corpus's rows
    * hash-fails BOTH gates. */
  private lazy val cleanAuditOracle: String = {
    val clean = oracleSqlBase("pipeline_clean_corpus")
    val cut = clean.lastIndexOf("SELECT d.doc_id")
    require(cut > 0, "pipeline_clean_corpus oracle changed shape")
    clean.substring(0, cut) +
      """SELECT d.doc_id,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
                  THEN 'duplicate'
                WHEN q.quality < 0.6 THEN 'low_quality'
                WHEN r.distinct_token_ratio < 0.3 THEN 'repetitive'
                WHEN r.top_bigram_frac IS NOT NULL AND r.top_bigram_frac > 0.1
                  THEN 'bigram_loop'
                ELSE 'keep' END AS outcome,
           q.quality
         FROM documents d
         JOIN rep r ON r.doc_id = d.doc_id
         JOIN qual q ON q.doc_id = d.doc_id"""
  }

  /** dedup_canonical_best: the dedup_clusters reachability chain verbatim
    * + the corpus_quality_topfrac scoring CTEs (renamed q*) + a
    * per-cluster (q6 DESC, doc_id ASC) argmax — best-member canonicals
    * from the SAME two single-source-of-truth replays. */
  private lazy val canonicalBestOracle: String = {
    val clusters = oracleSqlBase("dedup_clusters")
    val cut = clusters.lastIndexOf("SELECT doc_id, cluster_id,")
    require(cut > 0, "dedup_clusters oracle changed shape")
    val topfrac = oracleSqlBase("corpus_quality_topfrac")
    val qEnd = topfrac.indexOf("), ranked AS (")
    require(qEnd > 0, "corpus_quality_topfrac oracle changed shape")
    val quality = topfrac.substring("WITH ".length + topfrac.indexOf("WITH "), qEnd + 1)
      .replace("tok AS (", "qtok AS (").replace("FROM tok", "FROM qtok")
      .replace("feat AS (", "qfeat AS (").replace("FROM feat", "FROM qfeat")
      .replace("scored AS (", "qscored AS (")
    clusters.substring(0, cut) +
      ", " + quality + """, member AS (
           SELECT l.doc_id, l.cluster_id, s.q6
           FROM labels l JOIN qscored s ON s.doc_id = l.doc_id
         ), best AS (
           SELECT cluster_id, doc_id AS canonical_id FROM (
             SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY q6 DESC, doc_id ASC) AS rn
             FROM member) WHERE rn = 1
         )
         SELECT m.doc_id, m.cluster_id, b.canonical_id,
           m.doc_id = b.canonical_id AS is_canonical
         FROM member m JOIN best b ON m.cluster_id = b.cluster_id"""
  }

  /** corpus_cluster_stats: the similarity_ivf oracle's training+assignment
    * prefix verbatim (ONE source of truth for the Lloyd replay), then the
    * per-cluster label histogram and deterministic majority pick. */
  private lazy val clusterStatsOracle: String = {
    val ivf = oracleSqlBase("similarity_ivf")
    val cut = ivf.indexOf("), q AS (")
    require(cut > 0, "similarity_ivf oracle changed shape")
    ivf.substring(0, cut) +
      """), lab AS (
           SELECT a.cid, l.label FROM assigned a
           JOIN embeddings l ON a.vec_id = l.vec_id
         ), cl AS (
           SELECT cid, label, count(*) AS c FROM lab GROUP BY cid, label
         ), top AS (
           SELECT cid, label, c,
             row_number() OVER (PARTITION BY cid ORDER BY c DESC, label ASC) AS rn
           FROM cl
         )
         SELECT cl.cid AS cluster, CAST(sum(cl.c) AS BIGINT) AS n_vecs,
           count(*) AS n_labels,
           max(CASE WHEN t.rn = 1 THEN t.label END) AS top_label,
           CAST(max(CASE WHEN t.rn = 1 THEN t.c END) AS BIGINT) AS top_label_n
         FROM cl LEFT JOIN top t ON cl.cid = t.cid AND cl.label = t.label
         GROUP BY cl.cid"""
  }

  /** ts_rolling: the ts_resample oracle wrapped as a dense CTE (one
    * source of truth for the grid), then the 7-row frame — which IS
    * 7 calendar days precisely because the grid is dense. */
  private lazy val tsRollingOracle: String = {
    val resample = oracleSqlBase("ts_resample")
    val cut = resample.lastIndexOf("SELECT g.user_id")
    require(cut > 0, "ts_resample oracle changed shape")
    resample.substring(0, cut) + ", dense AS (\n" +
      resample.substring(cut) + """
         )
         SELECT user_id, day,
           CAST(sum(n_events) OVER w AS BIGINT) AS n_7d,
           CAST(sum(CAST(sum_v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sum_v_7d
         FROM dense
         WINDOW w AS (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""
  }

  /** corpus_decontam_report: the corpus_fuzzy_decontam replay spliced at
    * its final SELECT (one source of truth for the LSH chain), aggregated
    * on the EVAL side instead. */
  private lazy val decontamReportOracle: String = {
    val fuzzy = oracleSqlBase("corpus_fuzzy_decontam")
    val cut = fuzzy.lastIndexOf("SELECT tid AS doc_id")
    require(cut > 0, "corpus_fuzzy_decontam oracle changed shape")
    fuzzy.substring(0, cut) +
      """SELECT eid AS eval_id, count(*) AS n_train_dups,
           floor(max(j) * 1e4 + 0.5) / 1e4 AS max_jaccard
         FROM jac WHERE j >= 0.5 GROUP BY eid"""
  }

  /** graph_pagerank: the fixed-round integer PageRank replayed as a
    * generated CTE chain — r1..r5 each spell one round's exact int64
    * update (contrib = rank // degree, update = base + 85·Σ // 100), so
    * the oracle IS the Spark loop, unrolled. */
  private lazy val pageRankOracle: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
           SELECT n0.id,
             (SELECT (15 * 1000000000000) // (100 * n) FROM nn)
             + (85 * coalesce(s.m, 0)) // 100 AS rank
           FROM nodes n0 LEFT JOIN (
             SELECT e.dst AS id, CAST(sum(r.rank // d.d) AS BIGINT) AS m
             FROM edges e JOIN r${i - 1} r ON e.src = r.id JOIN deg d ON d.id = e.src
             GROUP BY e.dst) s ON n0.id = s.id
         )"""
    }.mkString(", ")
    s"""WITH cs AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                           's' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           WHERE o_orderkey % 10 = 3
         ), edges AS (
           SELECT src, dst FROM cs UNION SELECT dst, src FROM cs
         ), nodes AS (
           SELECT DISTINCT src AS id FROM edges
         ), deg AS (
           SELECT src AS id, count(*) AS d FROM edges GROUP BY src
         ), nn AS (SELECT count(*) AS n FROM nodes),
         r0 AS (
           SELECT id, (SELECT 1000000000000 // n FROM nn) AS rank FROM nodes
         ), $rounds
         SELECT id AS node, rank FROM r5"""
  }

  /** corpus_training_shards: the pipeline_clean_corpus oracle verbatim,
    * rewrapped as a `kept` CTE (one source of truth for the cleaning
    * thresholds), then the corpus_split bucket and the per-(split, shard)
    * packing window — shard count 4, matching the gate query. */
  private lazy val trainingShardsOracle: String = {
    val clean = oracleSqlBase("pipeline_clean_corpus")
    val cut = clean.lastIndexOf("SELECT d.doc_id")
    require(cut > 0, "pipeline_clean_corpus oracle changed shape")
    clean.substring(0, cut) + ", kept AS (\n" +
      clean.substring(cut)
        .replace("SELECT d.doc_id, d.lang, q.quality", "SELECT d.doc_id") +
      """
         ), splits AS (
           SELECT doc_id,
             CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT doc_id, ((doc_id % 1000003) * 2654435761 + 40503) % 100 AS b
                 FROM kept)
         ), placed AS (
           SELECT t.doc_id, s.split,
             CAST(((t.doc_id % 2147483648) * 2654435761) % 2147483648 % 4 AS INTEGER) AS shard,
             CAST(len(t.t) AS BIGINT) AS n_tokens,
             ((t.doc_id % 2147483648) * 2654435761) % 2147483648 AS h
           FROM tok t JOIN splits s ON s.doc_id = t.doc_id
         ), offs AS (
           SELECT doc_id, split, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY split, shard
               ORDER BY h ASC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
           FROM placed
         )
         SELECT doc_id, split, shard, end_tok - n_tokens AS start_tok FROM offs"""
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // trained quality classifier: 3-round logistic regression, 512 buckets
    "corpus_quality_classifier" -> qualityClassifierOracle(3, 512),
    "scan_project" ->
      "SELECT DISTINCT l_orderkey, l_partkey, l_suppkey FROM lineitem",
    "filter_eq" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
    "filter_range" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 5 AND l_quantity < 25",
    "filter_string_pred" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#00000001%'",
    "entity_lookup" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 1",
    "join_equi" ->
      "SELECT o_orderkey, c_custkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "join_multiway" ->
      """SELECT r_name, n_name, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "join_anti" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    // both as-of oracles compare timestamps CAST to microsecond TIMESTAMP:
    // the Spark side reads the nanos parquet truncated to us (Tables.events)
    // while DuckDB reads TIMESTAMP_NS — a sub-us component in a future
    // fixture would otherwise flip inclusive-tie matches
    "join_asof" ->
      """SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase') p
         ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS TIMESTAMP)) c
         ON p.user_id = c.user_id AND p.ts >= c.ts""",
    // scale_zorder: Morton interleave of (user_id, hour) — shift/mask
    // arithmetic replayed verbatim. The hour bucket reduces micros to the
    // non-negative ring [0, 65536·3.6e9) BEFORE dividing (double-% = pmod),
    // where truncating and floor division coincide — so Spark `div` and
    // DuckDB `//` agree even for pre-1970 (negative-micros) timestamps.
    "scale_zorder" ->
      """WITH b AS (
           SELECT event_id,
             ((user_id % 65536) + 65536) % 65536 AS x,
             (((epoch_us(ts) % 235929600000000) + 235929600000000)
               % 235929600000000) // 3600000000 AS y
           FROM events
         ), s AS (
           SELECT event_id,
             ((((x | (x << 8)) & 16711935) | (((x | (x << 8)) & 16711935) << 4)) & 252645135) AS x2,
             ((((y | (y << 8)) & 16711935) | (((y | (y << 8)) & 16711935) << 4)) & 252645135) AS y2
           FROM b
         ), t AS (
           SELECT event_id,
             (((x2 | (x2 << 2)) & 858993459) | ((((x2 | (x2 << 2)) & 858993459)) << 1)) & 1431655765 AS xs,
             (((y2 | (y2 << 2)) & 858993459) | ((((y2 | (y2 << 2)) & 858993459)) << 1)) & 1431655765 AS ys
           FROM s
         )
         SELECT event_id, xs | (ys << 1) AS z FROM t""",
    // scale_salted_agg: salting redistributes rows but never changes the
    // answer — the oracle is the PLAIN group-by (decimal partials
    // re-combine exactly, so even the float sum hash-matches)
    "scale_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",
    // scale_bucketed_join: the bucketed layout only changes WHERE rows
    // sit (co-located buckets, no exchange under the join — the plan is
    // pinned by PlanQualitySpec), never the answer — the oracle is the
    // plain join+group-by
    "scale_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    // scale_bloom_join: the Bloom prefilter is semantics-free (one-sided
    // errors ride through to the real join) — the oracle is the plain join
    "scale_bloom_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_suppkey % 11 = 3
         GROUP BY s_nationkey""",
    // join_range_binned: the binning only changes HOW pairs meet (bin
    // equi-join + residual instead of a nested loop) — the oracle is the
    // plain half-open range theta-join on the same epoch-µs longs
    "join_range_binned" ->
      """SELECT o.o_orderkey, count(*) AS n_in_window,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
         FROM orders o JOIN lineitem l
           ON epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) >= epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
          AND epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) < epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) + 1209600000000
         WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey % 100 = 7
         GROUP BY o.o_orderkey""",
    // join_asof_native: the same query as join_asof (plans.AsOfJoinExec),
    // kept under its own name — the same oracle
    "join_asof_native" ->
      """SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase') p
         ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS TIMESTAMP)) c
         ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "union_or" ->
      """SELECT p_partkey, p_brand, p_size FROM part WHERE p_brand = 'Brand#12'
         UNION
         SELECT p_partkey, p_brand, p_size FROM part WHERE p_size > 40""",
    "distinct_projection" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "agg_group_by" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
         count(*) AS n_rows,
         CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
         count(*) AS n_rows,
         CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "agg_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    // sketch_distinct_kmv: the bottom-k synopsis replayed end-to-end —
    // 60-bit md5-prefix hashes, k smallest distinct per group (row_number
    // over the distinct hash set), and the (k−1)·2⁶⁰/h₍ₖ₎ IEEE estimator;
    // exact (= the distinct hash count) for groups under k
    "sketch_distinct_kmv" ->
      """WITH h AS (
           SELECT DISTINCT event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events
         ), r AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM h
         ), a AS (
           SELECT event_type, count(*) AS n_seen,
             max(CASE WHEN rn = 64 THEN h END) AS h64
           FROM r WHERE rn <= 64 GROUP BY event_type
         )
         SELECT event_type,
           CASE WHEN n_seen < 64 THEN n_seen
                ELSE CAST(floor(63 * pow(2, 60) / CAST(h64 AS DOUBLE)) AS BIGINT)
           END AS distinct_est
         FROM a""",
    "agg_min_max" ->
      """SELECT o_orderstatus, min(o_totalprice) AS min_price,
         max(o_totalprice) AS max_price, count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus""",
    "agg_stats" ->
      """SELECT l_returnflag, n, (sx2 - sx * sx / n) / NULLIF(n - 1, 0) AS var_price,
         sqrt((sx2 - sx * sx / n) / NULLIF(n - 1, 0)) AS stddev_price, median_price
         FROM (
           SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
             median(l_quantity) AS median_price
           FROM lineitem GROUP BY l_returnflag)""",
    "order_by_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "order_by_offset" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 10",
    "rule_view" ->
      """WITH high_value AS (
           SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 300000.0)
         SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
         FROM high_value JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "recursive_reach" ->
      """WITH RECURSIVE edges AS (
           SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src, 'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
           UNION
           SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation
           UNION
           SELECT 's' || CAST(s_suppkey AS VARCHAR), 'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
         ), reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         )
         SELECT src, dst FROM reach""",
    "asof_snapshot" ->
      """SELECT user_id, value AS latest_value FROM (
           SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
         WHERE rn = 1""",
    // asof_speculative: the with-tx union — speculative rows outrank all
    // committed versions of their entity (spec DESC leads the window),
    // a speculative delete hides the entity, committed users unchanged
    "asof_speculative" ->
      """WITH com AS (
           SELECT user_id, ts, event_id, value, 0 AS spec, 0 AS del
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
         ), sput AS (
           SELECT DISTINCT user_id, NULL::TIMESTAMP AS ts, NULL::BIGINT AS event_id,
             999999.0 AS value, 1 AS spec, 0 AS del
           FROM com WHERE user_id % 50 = 0
         ), sdel AS (
           SELECT DISTINCT user_id, NULL::TIMESTAMP AS ts, NULL::BIGINT AS event_id,
             NULL::DOUBLE AS value, 1 AS spec, 1 AS del
           FROM com WHERE user_id = 7
         ), uni AS (
           SELECT * FROM com UNION ALL SELECT * FROM sput UNION ALL SELECT * FROM sdel
         )
         SELECT user_id, value AS latest_value FROM (
           SELECT user_id, value, del,
             row_number() OVER (PARTITION BY user_id
               ORDER BY spec DESC, ts DESC, event_id DESC) AS rn
           FROM uni)
         WHERE rn = 1 AND del = 0""",
    // store_attr_stats: the snapshot docs' key counts replayed analytically
    // — 'value' is always present, 'vip' only on user_id % 50 = 0 docs,
    // 'note' only on docs whose latest event is a click (to_json drops the
    // null fields, so key presence IS the predicate). Zero-count attrs are
    // absent on the Spark side (no key, no row) — the outer filter mirrors.
    "store_attr_stats" ->
      """WITH snap AS (
           SELECT user_id, value, event_type FROM (
             SELECT user_id, value, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
           WHERE rn = 1)
         SELECT * FROM (
           SELECT 'value' AS attribute, count(*) AS doc_count FROM snap WHERE value IS NOT NULL
           UNION ALL
           SELECT 'vip', count(*) FROM snap WHERE user_id % 50 = 0
           UNION ALL
           SELECT 'note', count(*) FROM snap WHERE event_type = 'click')
         WHERE doc_count > 0""",
    "bitemporal_asof" ->
      """SELECT user_id, value AS latest_value FROM (
           SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' AND event_id <= 700)
         WHERE rn = 1""",
    "asof_history" ->
      """SELECT row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS version_rank,
                event_id, value
         FROM events WHERE user_id = 7""",
    "store_changes" ->
      """SELECT user_id, event_id, op FROM (
           SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  WHEN coalesce(lag(event_type = 'error')
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), TRUE) THEN 'insert'
                  ELSE 'update' END AS op
           FROM events)
         WHERE event_id > 700""",
    "time_truncate" ->
      "SELECT date_trunc('hour', ts) AS bucket, count(*) AS n FROM events GROUP BY date_trunc('hour', ts)",
    // next-or-SAME Monday (consume-time's DayOfWeek arm tests today before
    // advancing): offset (8 - isodow) mod 7, so a Monday maps to itself
    "time_next_day" ->
      """SELECT CAST(ts AS DATE) + INTERVAL ((8 - isodow(CAST(ts AS DATE))) % 7) DAY AS next_monday, count(*) AS n
         FROM events GROUP BY 1""",
    // ts_resample: per-user daily grid via generate_series over each
    // user's own span — gap days appear with zeros, exact decimal sums
    "ts_resample" ->
      """WITH agg AS (
           SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
           FROM events GROUP BY 1, 2
         ), span AS (
           SELECT user_id, min(day) AS d0, max(day) AS d1 FROM agg GROUP BY 1
         ), grid AS (
           SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
           FROM span
         )
         SELECT g.user_id, g.day,
           CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
           coalesce(a.sum_v, 0.0) AS sum_v
         FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.day = a.day""",
    // ts_delta: identical parquet doubles subtract bit-exactly; the
    // (ts, event_id) order is total so lag is deterministic
    "ts_delta" ->
      """SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS delta
         FROM events""",
    // ts_zscore: the agg_stats moment spelling per user + the identical
    // IEEE normalize; q6 floor-round, NULL when a key has one row
    "ts_zscore" ->
      """WITH st AS (
           SELECT user_id, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sx2
           FROM events GROUP BY user_id
         )
         SELECT e.event_id, e.user_id,
           CASE WHEN st.n > 1 AND (st.sx2 - st.sx * st.sx / st.n) > 0 THEN
             floor(((e.value - st.sx / st.n) /
               sqrt((st.sx2 - st.sx * st.sx / st.n) / (st.n - 1))) * 1e6 + 0.5) / 1e6
           END AS z
         FROM events e JOIN st USING (user_id)""",
    // ts_retention: distinct (user, day) activity -> per-user min ->
    // datediff offsets — all integer/date arithmetic
    "ts_retention" ->
      """WITH daily AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
         ), cohorts AS (
           SELECT user_id, min(day) AS cohort FROM daily GROUP BY user_id
         )
         SELECT c.cohort, datediff('day', c.cohort, d.day) AS day_offset,
           count(*) AS n_active
         FROM daily d JOIN cohorts c ON d.user_id = c.user_id
         GROUP BY 1, 2""",
    // ts_funnel: first-occurrence timestamps per stage; a stage counts
    // only at/after the previous stage's first occurrence
    "ts_funnel" ->
      """WITH firsts AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events WHERE event_type IN ('view', 'click', 'purchase')
           GROUP BY user_id
         )
         SELECT CASE WHEN t_view IS NULL THEN 0
                     WHEN t_click IS NULL OR t_click < t_view THEN 1
                     WHEN t_purchase IS NULL OR t_purchase < t_click THEN 2
                     ELSE 3 END AS stage,
           count(*) AS n_users
         FROM firsts GROUP BY 1""",
    // ts_transitions: lag over the same total per-user order as ts_delta;
    // stream starts surface as prev_type = '∅'
    "ts_transitions" ->
      """SELECT coalesce(prev_type, '∅') AS prev_type, event_type, count(*) AS n
         FROM (
           SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_type
           FROM events)
         GROUP BY 1, 2""",
    "json_extract" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type""",
    "stream_map_filter_batch" ->
      "SELECT event_id, value + 1.0 AS v FROM events WHERE value IS NOT NULL",
    // stream_windowed_agg: Spark's tumbling window() is epoch-aligned, so
    // 1 h windows coincide with date_trunc('hour') buckets; window() also
    // implicitly drops null timestamps (TimeWindowing injects the filter),
    // so the oracle pins the same WHERE — without it a future null-ts
    // fixture would hash-mismatch with no code change
    "stream_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
         FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""",
    // stream_sessionize: gap-chained sessions — lag/flag/running-sum with
    // µs-integer gap comparisons, (ts, event_id) tie-broken ordering
    // sketch_quantile_sample: deterministic md5 1-in-8 row sample, exact
    // lower-rank quantiles over it ((value, event_id) total order)
    "sketch_quantile_sample" ->
      """WITH s AS (
           SELECT event_type, event_id, value,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events
         ), f AS (
           SELECT event_type, event_id, value FROM s WHERE h < 144115188075855872
         ), r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
           FROM f
         )
         SELECT event_type,
           max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1 THEN value END) AS p50,
           max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.95) AS BIGINT) + 1 THEN value END) AS p95,
           CAST(max(cnt) AS BIGINT) AS n_sample
         FROM r GROUP BY event_type""",
    // sketch_heavy_hitters: the count-min sketch replayed cell-for-cell —
    // every (depth row j, token) occurrence lands in cell
    // md5("j:"+token)%width; the cells CTE is the sketch matrix as sums,
    // and each probe term reads the MIN of its depth cells (0 when a cell
    // was never touched)
    "sketch_heavy_hitters" ->
      """WITH tok AS (
           SELECT token FROM (
             SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents)
           WHERE len(token) > 0
         ), ds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) d(j)),
         cells AS (
           SELECT j,
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))::BIGINT % 512 AS cell,
             count(*) AS cnt
           FROM tok CROSS JOIN ds GROUP BY 1, 2
         ), probes AS (
           SELECT * FROM (VALUES ('join'),('hash'),('row'),('customer'),
                                 ('vector'),('zzznope'),('qux')) p(term)
         ), pc AS (
           SELECT term, j,
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 512 AS cell
           FROM probes CROSS JOIN ds
         )
         SELECT term, min(coalesce(cnt, 0)) AS est_tf
         FROM pc LEFT JOIN cells USING (j, cell)
         GROUP BY term""",
    // stream_windowed_topk: the count-min sketch per day window — the
    // sketch_heavy_hitters replay grouped by date_trunc (UTC epoch-day
    // alignment, like stream_windowed_distinct), probed for three types
    "stream_windowed_topk" ->
      """WITH ev AS (
           SELECT date_trunc('day', ts) AS w_start, event_type
           FROM events WHERE ts IS NOT NULL
         ), ds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) d(j)),
         cells AS (
           SELECT w_start, j,
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || event_type), 1, 15))::BIGINT % 256 AS cell,
             count(*) AS cnt
           FROM ev CROSS JOIN ds GROUP BY 1, 2, 3
         ), probes AS (
           SELECT * FROM (VALUES ('view'),('click'),('purchase')) p(term)
         ), pc AS (
           SELECT term, j,
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || term), 1, 15))::BIGINT % 256 AS cell
           FROM probes CROSS JOIN ds
         ), est AS (
           SELECT w.w_start, p.term, min(coalesce(c.cnt, 0)) AS est
           FROM (SELECT DISTINCT w_start FROM ev) w
           CROSS JOIN pc p
           LEFT JOIN cells c ON c.w_start = w.w_start AND c.j = p.j AND c.cell = p.cell
           GROUP BY 1, 2
         )
         SELECT w_start,
           max(CASE WHEN term = 'view' THEN est END) AS n_view,
           max(CASE WHEN term = 'click' THEN est END) AS n_click,
           max(CASE WHEN term = 'purchase' THEN est END) AS n_purchase
         FROM est GROUP BY w_start""",
    // stream_quota_admit: the streaming per-key quota's batch face —
    // with arrival order = doc_id order, admission IS row_number ≤ cap
    "stream_quota_admit" ->
      """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS rn
           FROM documents)
         WHERE rn <= 10""",
    // stream_windowed_distinct: the KMV sketch per (day, type) — the same
    // replay as sketch_distinct_kmv, grouped by the tumbling window
    // (window('1 day') aligns to epoch days = date_trunc under UTC)
    "stream_windowed_distinct" ->
      """WITH h AS (
           SELECT DISTINCT date_trunc('day', ts) AS w_start, event_type,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events
         ), r AS (
           SELECT w_start, event_type, h,
             row_number() OVER (PARTITION BY w_start, event_type ORDER BY h) AS rn
           FROM h
         ), a AS (
           SELECT w_start, event_type, count(*) AS n_seen,
             max(CASE WHEN rn = 64 THEN h END) AS h64
           FROM r WHERE rn <= 64 GROUP BY w_start, event_type
         )
         SELECT w_start, event_type,
           CASE WHEN n_seen < 64 THEN n_seen
                ELSE CAST(floor(63 * pow(2, 60) / CAST(h64 AS DOUBLE)) AS BIGINT)
           END AS approx_users
         FROM a""",
    // stream_interval_join: the batch face of the stream-stream interval
    // join (StreamJoinSpec pins streaming ≡ batch on the same rows) — per
    // purchase, same-user clicks in the trailing 2 h window
    "stream_interval_join" ->
      """SELECT p.event_id, p.user_id, count(*) AS n_clicks,
         CAST(sum(CAST(c.value AS DECIMAL(28,6))) AS DOUBLE) AS click_value
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts
         GROUP BY p.event_id, p.user_id""",
    "stream_sessionize" ->
      """WITH lagd AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events
         ), flag AS (
           SELECT *, CASE WHEN prev IS NULL
             OR epoch_us(ts) - epoch_us(prev) > 43200000000 THEN 1 ELSE 0 END AS nw
           FROM lagd
         ), sess AS (
           SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM flag
         )
         SELECT user_id, session_seq, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY user_id, session_seq""",
    "datalog_query" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 300000.0 GROUP BY c_mktsegment""",
    "datalog_edn" ->
      """SELECT c_mktsegment AS seg, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 300000.0 GROUP BY c_mktsegment""",
    // datalog_timeout: crux :timeout — a generous budget returns exactly
    // the plain query's rows (the eager-materialize path must not change
    // results); the (reachable ?c) rule = customers with positive acctbal
    "datalog_timeout" ->
      """SELECT c_mktsegment AS seg, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 300000.0 AND c_acctbal > 0.0
         GROUP BY c_mktsegment""",
    // datalog_bind_arith: the bind chain is pure scalar IEEE arithmetic —
    // identical in any engine — so only the count aggregates (exact)
    "datalog_bind_arith" ->
      """SELECT c_mktsegment AS seg, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE (o_totalprice * 2.0) - 100000.0 > 500000.0
         GROUP BY c_mktsegment""",
    // datalog_sample: crux 1.16 (sample 3 ?n) = first 3 distinct values in
    // salted-md5 order; (rand 2 ?n) = picks i=1..2, pick i = the value
    // minimizing md5(n || ':' || i || ':42') (independent seeded hash order
    // per pick — with-replacement semantics with O(k) aggregate state on the
    // Spark side). Both scrambles are engine-portable md5, so DuckDB
    // replays the exact picks.
    "datalog_sample" ->
      """WITH cust AS (
           SELECT DISTINCT c_mktsegment AS seg, c_custkey AS c, c_name AS n FROM customer
         ), grp AS (
           SELECT seg, CAST(count(*) AS BIGINT) AS count_c FROM cust GROUP BY seg
         ), ranked AS (
           SELECT seg, n,
             row_number() OVER (PARTITION BY seg ORDER BY md5(n || ':42') ASC, n ASC) AS r
           FROM (SELECT DISTINCT seg, n FROM cust)
         ), samp AS (
           SELECT seg, string_agg(n, ',' ORDER BY r ASC) AS sample_names
           FROM ranked WHERE r <= 3 GROUP BY seg
         ), rnd AS (
           SELECT c.seg, p.i,
             min_by(c.n, md5(c.n || ':' || CAST(p.i AS VARCHAR) || ':42')) AS n
           FROM cust c CROSS JOIN (SELECT 1 AS i UNION ALL SELECT 2 AS i) p
           GROUP BY c.seg, p.i
         ), rnd_agg AS (
           SELECT seg, string_agg(n, ',' ORDER BY i ASC) AS rand_names FROM rnd GROUP BY seg
         )
         SELECT g.seg, g.count_c, s.sample_names, r.rand_names
         FROM grp g JOIN samp s ON g.seg = s.seg JOIN rnd_agg r ON g.seg = r.seg""",
    // datalog_pull: the pull join must not change cardinality or break the
    // find tuple's set semantics — DISTINCT over the same projection
    "datalog_pull" ->
      """SELECT DISTINCT c_mktsegment AS seg, c_name AS cust_name,
           c_acctbal AS acctbal
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 300000.0""",
    // datalog_pull_nested: the child equi-join through the order-cust ref
    // must keep cardinality and match each ref to exactly its doc
    "datalog_pull_nested" ->
      """SELECT DISTINCT 'o' || CAST(o_orderkey AS VARCHAR) AS order_id,
           o_totalprice AS totalprice, c_name AS cust_name,
           c_mktsegment AS seg
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 340000.0""",
    // datalog_pull_opts: :as renames are name-level only (values identical
    // to the source columns); :default materializes as a constant on every
    // order row because order docs carry NULL for customer-only attrs in
    // the widened universe
    "datalog_pull_opts" ->
      """SELECT DISTINCT 'o' || CAST(o_orderkey AS VARCHAR) AS order_id,
           o_totalprice AS price, 'NONE' AS segd, c_name AS cust_name,
           c_acctbal AS acctbal
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 345000.0""",
    // datalog_pull_recursive: unbounded {:link ...} over the
    // customer→nation→region chain — discovered depth 2 means exactly two
    // ref joins; a wrong depth loses the region level or nulls a column
    "datalog_pull_recursive" ->
      """SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS cust_id,
           c_name AS cust_name, n_name AS nation_name, r_name AS region_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         WHERE c_acctbal > 9000.0""",
    // datalog_with: duplicate-preserving sum — one custkey per order (the
    // :with [?o] dedup tuple), NOT per distinct (priority, custkey) pair;
    // custkeys are integers so the sum is exact in both engines
    "datalog_with" ->
      """SELECT o_orderpriority AS p, CAST(sum(o_custkey) AS BIGINT) AS sum_ck
         FROM orders GROUP BY 1""",
    // datalog_keys: :keys renames are name-level; the driver compare sorts
    // columns by NAME, so matching aliases here prove the rename landed
    "datalog_keys" ->
      """SELECT count(*) AS n_orders, c_mktsegment AS segment
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 150000.0 GROUP BY c_mktsegment""",
    // datalog_in_coll: the :in collection binding is an IN list
    "datalog_in_coll" ->
      """SELECT c_mktsegment AS seg, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 100000.0
           AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
         GROUP BY 1""",
    // datalog_in_rel: the 20-pair :in relation replays as a VALUES join
    "datalog_in_rel" ->
      s"""SELECT o_orderpriority AS p, c_mktsegment AS seg, count(*) AS count_o
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN (VALUES ${graft.query.datalog.DatalogDb.inRelPairs
           .map { case Seq(p, g) => s"('$p', '$g')" }.mkString(", ")})
           AS v(vp, vseg)
           ON o_orderpriority = vp AND c_mktsegment = vseg
         GROUP BY 1, 2""",
    // datalog_mutual: even-length paths over the c→n→r / s→n DAG — the
    // mutually recursive odd/even rule pair linearizes in SQL to one
    // recursive CTE carrying a path-length parity counter
    "datalog_mutual" ->
      """WITH RECURSIVE edges AS (
           SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src, 'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
           UNION
           SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation
           UNION
           SELECT 's' || CAST(s_suppkey AS VARCHAR), 'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
         ), paths AS (
           SELECT src, dst, 1 AS len FROM edges
           UNION
           SELECT p.src, e.dst, p.len + 1 FROM paths p JOIN edges e ON p.dst = e.src
         )
         SELECT DISTINCT src, dst FROM paths WHERE len % 2 = 0""",
    "dedup_exact" ->
      """SELECT lang, count(*) AS n_docs FROM (
           SELECT arg_min(lang, doc_id) AS lang FROM documents GROUP BY text)
         GROUP BY lang""",
    // corpus_perplexity: add-one bigram LM trained on the 1-in-5 reference
    // slice; per-term q6 rounding makes the doc sum an exact-integer total
    // (order-free), so the whole scoring pass replays.
    "corpus_perplexity" ->
      s"""WITH $lmNllCtes
         SELECT doc_id, n_bigrams, nll_q6 FROM nll""",
    // corpus_ccnet_buckets: the SAME LM chain + the CCNet head/middle/tail
    // assignment — per-language terciles of per-bigram NLL, all-integer
    // (avg at q12 scale stays exact in double through 2^53; rank ties
    // break on doc_id, tercile edges are integer comparisons)
    "corpus_ccnet_buckets" ->
      s"""WITH $lmNllCtes, av AS (
           SELECT n.doc_id, l.lang,
             CAST(floor(CAST(n.nll_q6 * 1000000 AS DOUBLE) / n.n_bigrams) AS BIGINT) AS avg_nll_q12
           FROM nll n JOIN (SELECT doc_id, lang FROM documents) l ON n.doc_id = l.doc_id
         ), r AS (
           SELECT doc_id, lang, avg_nll_q12,
             row_number() OVER (PARTITION BY lang ORDER BY avg_nll_q12, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
           FROM av
         )
         SELECT doc_id, lang, avg_nll_q12,
           CASE WHEN rn * 3 <= cnt THEN 'head'
                WHEN rn * 3 <= 2 * cnt THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM r""",
    // corpus_dsir: hashed-feature importance weights — md5-prefix buckets,
    // full-range add-one smoothing, q6-rounded log-ratios, integer sums.
    "corpus_dsir" ->
      s"""WITH $dsirWeightCtes
         SELECT doc_id, n_features, dsir_weight_q6 FROM w""",
    // corpus_dsir_select: the SAME weights CTE chain + per-language
    // top-half by (weight, doc_id) integer-exact rank.
    "corpus_dsir_select" ->
      s"""WITH $dsirWeightCtes, sel AS (
           SELECT w.doc_id, d.lang, w.dsir_weight_q6,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY w.dsir_weight_q6 DESC, w.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY d.lang) AS n
           FROM w JOIN documents d ON w.doc_id = d.doc_id
         )
         SELECT doc_id, lang, dsir_weight_q6 FROM sel WHERE rk <= ceil(n * 0.5)""",
    // dedup_embedding_lsh: FULL replay of the SRP-LSH pipeline — exact
    // twin planting, auto-scaled resolution (bits = bit-length of
    // (n/8 − 1), floored at 8, capped at 24; tables = max(8, bits)),
    // scramble ±1 sign bits, index-ascending projection sums, 2..512
    // bucket prune, and the margin-safe cosine verify.
    "dedup_embedding_lsh" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), tw AS (
           SELECT vec_id + 1000000000 AS vec_id, list(x2 ORDER BY pos) AS v FROM (
             SELECT vec_id, pos,
               x + 0.02 * (CAST((((vec_id + 1000000000) % 100003) * 2654435761 + (pos - 1) * 40503) % 1000 AS DOUBLE) / 1000.0 - 0.5) AS x2
             FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM base))
           GROUP BY vec_id
         ), e AS (SELECT * FROM base UNION ALL SELECT * FROM tw
         ), params AS (
           SELECT least(24, greatest(8,
             length(format('{:b}', greatest((count(*) // 8) - 1, 1))))) AS bits
           FROM e
         ), sigbits AS (
           SELECT e.vec_id, g.t, h.b,
             CASE WHEN list_sum([v[i] *
               (CASE WHEN (((((g.t * 4096 + h.b + 1) * 2654435761) % 2147483647)
                            * ((i * 40503 + 17) % 2147483647)) % 2147483647 // 8192) % 2 = 1
                 THEN 1.0 ELSE -1.0 END) for i in generate_series(1, len(v))]) > 0
             THEN 1 ELSE 0 END AS bit
           FROM e, params, generate_series(0, 23) g(t), generate_series(0, 23) h(b)
           WHERE g.t < greatest(8, params.bits) AND h.b < params.bits
         ), sigs AS (
           SELECT vec_id, t, sum(bit << (bits - 1 - b)) AS bucket
           FROM sigbits, params GROUP BY vec_id, t, bits
         ), kept AS (
           SELECT t, bucket FROM sigs GROUP BY t, bucket
           HAVING count(*) BETWEEN 2 AND 512
         ), cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM sigs a JOIN kept USING (t, bucket) JOIN sigs b USING (t, bucket)
           WHERE a.vec_id < b.vec_id
         )
         SELECT id_a, id_b, floor(cs * 1e4 + 0.5) / 1e4 AS cos FROM (
           SELECT c.id_a, c.id_b,
             list_dot_product(ea.v, eb.v) /
               (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cs
           FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b)
         WHERE cs >= 0.95""",
    // dedup_minhash: FULL replay of the MinHash+LSH pipeline — md5-28-bit
    // shingle base, 64 affine permutations mod 2³¹−1, 16 bands × 4 rows
    // (Spark joins bands on xxhash64 of the same concat string DuckDB
    // joins on directly — a join-key spelling, not a value), then exact
    // Jaccard verification over the true shingle sets.
    "dedup_minhash" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), bx AS (
           SELECT doc_id, ('0x' || substring(md5(s), 1, 7))::BIGINT AS x
           FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
         ), perms AS (
           SELECT i, (2654435761 * (i + 1)) % 2147483647 AS a,
                     (40503 * (i + 1) * (i + 1) + 17) % 2147483647 AS b
           FROM generate_series(0, 63) t(i)
         ), sig AS (
           SELECT doc_id, i, min((a * x + b) % 2147483647) AS h
           FROM bx CROSS JOIN perms GROUP BY doc_id, i
         ), bands AS (
           SELECT doc_id, i // 4 AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
           FROM sig GROUP BY doc_id, i // 4
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         )
         SELECT id_a, id_b, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
           SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
           FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b)
         WHERE j >= 0.5""",
    // dedup_simhash: FULL replay — 60-bit md5-prefix token hashes, per-bit
    // ±1 majority votes, the block-permuted C(b,3)-table LSH with the
    // 2..256 bucket-size prune, Hamming ≤ 3 verify, identical-fingerprint
    // classes expanding to intra-class distance-0 pairs. The oracle
    // replays the engine's AUTO block selection (ADVICE r16: the old SQL
    // hardcoded the 4×15-bit layout, which diverges from the engine the
    // moment a skewed corpus crosses 2^15·targetBucket distinct
    // fingerprints and auto picks b=5 — the maxBucket prune makes outputs
    // layout-dependent): params picks the smallest b in [4,8] whose
    // per-table keyspace 2^((60/b)·(b−3)) holds the distinct-fingerprint
    // count at ≤8 expected occupancy (the Scala thresholds, verbatim);
    // tabs enumerates each table's (b−3)-block subset as a bitmask with
    // ascending in-subset positions (the engine's combinations() order);
    // chunk keys concatenate the subset's blocks by shift-or (disjoint
    // ranges, so SUM == OR).
    "dedup_simhash" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
           FROM (SELECT doc_id, ('0x' || substring(md5(tk), 1, 15))::BIGINT AS h
                 FROM (SELECT doc_id, unnest(t) AS tk FROM tok))
           CROSS JOIN generate_series(0, 59) g(b)
           GROUP BY doc_id, b
         ), fps AS (
           SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS fp
           FROM votes GROUP BY doc_id
         ), classes AS (
           SELECT fp, list(doc_id) AS members FROM fps GROUP BY fp
         ), params AS (
           SELECT CASE WHEN n <= 262144 THEN 4
                       WHEN n <= 134217728 THEN 5
                       WHEN n <= 8589934592 THEN 6
                       WHEN n <= 34359738368 THEN 7
                       ELSE 8 END AS b
           FROM (SELECT count(*) AS n FROM classes)
         ), tabs AS (
           SELECT p.b, 60 // p.b AS w, m.m AS chunk, j.j AS blk,
             CAST(row_number() OVER (PARTITION BY m.m ORDER BY j.j) - 1 AS BIGINT) AS pos
           FROM params p
           JOIN generate_series(0, 255) m(m)
             ON m.m < (1 << p.b) AND bit_count(m.m) = p.b - 3
           JOIN generate_series(0, 7) j(j)
             ON j.j < p.b AND ((m.m >> j.j) & 1) = 1
         ), chunks AS (
           SELECT c.fp, t.chunk,
             CAST(sum(((c.fp >> (t.blk * t.w)) & ((1::BIGINT << t.w) - 1))
                      << (t.pos * t.w)) AS BIGINT) AS key
           FROM classes c CROSS JOIN tabs t
           GROUP BY c.fp, t.chunk
         ), kept AS (
           SELECT chunk, key FROM chunks GROUP BY chunk, key
           HAVING count(*) BETWEEN 2 AND 256
         ), ham AS (
           SELECT fp_a, fp_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
           FROM (SELECT DISTINCT a.fp AS fp_a, b.fp AS fp_b
                 FROM chunks a JOIN kept USING (chunk, key) JOIN chunks b USING (chunk, key)
                 WHERE a.fp < b.fp)
           WHERE bit_count(xor(fp_a, fp_b)) <= 3
         ), inter AS (
           SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, hamming
           FROM ham
           JOIN (SELECT fp, unnest(members) AS id FROM classes) ma ON ma.fp = ham.fp_a
           JOIN (SELECT fp, unnest(members) AS id FROM classes) mb ON mb.fp = ham.fp_b
         ), intra AS (
           SELECT a.id AS id_a, b.id AS id_b, 0 AS hamming
           FROM (SELECT fp, unnest(members) AS id FROM classes) a
           JOIN (SELECT fp, unnest(members) AS id FROM classes) b
             ON a.fp = b.fp AND a.id < b.id
         )
         SELECT id_a, id_b, hamming FROM inter
         UNION ALL SELECT id_a, id_b, hamming FROM intra""",
    "dedup_ngram_jaccard" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), posting AS (
           SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM sh
         ), rare AS (
           SELECT shingle FROM posting GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         ), surv AS (
           SELECT doc_id, count(*) AS ns FROM posting JOIN rare USING (shingle) GROUP BY 1
         ), cand0 AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
           FROM posting a JOIN rare USING (shingle) JOIN posting b USING (shingle)
           WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), cand AS (
           SELECT id_a, id_b FROM cand0
           JOIN surv xa ON xa.doc_id = cand0.id_a
           JOIN surv xb ON xb.doc_id = cand0.id_b
           WHERE n_common >= least(2, xa.ns, xb.ns)
         )
         SELECT id_a, id_b, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
           SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
           FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b)
         WHERE j >= 0.5""",
    // dedup_stream_filter: the admission-filter probe (StreamDedup's
    // per-micro-batch contract) — even doc_ids are the staged corpus index,
    // odd doc_ids are the arrivals matched against it; hashes are join keys
    // only, so DuckDB replays the chain on shingle strings
    "dedup_stream_filter" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), corpus AS (SELECT * FROM sh WHERE doc_id % 2 = 0
         ), arriving AS (SELECT * FROM sh WHERE doc_id % 2 = 1
         ), cpost AS (
           SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM corpus
         ), kept AS (
           SELECT shingle FROM cpost GROUP BY shingle HAVING count(*) <= 10
         ), ipost AS (
           SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM arriving
         ), csurv AS (
           SELECT doc_id, count(*) AS ns FROM cpost JOIN kept USING (shingle) GROUP BY 1
         ), cand0 AS (
           SELECT i.doc_id AS in_id, c.doc_id AS match_id,
             count(*) AS n_common, min(i.n) AS ni
           FROM ipost i JOIN kept USING (shingle) JOIN cpost c USING (shingle)
           GROUP BY 1, 2
         ), cand AS (
           SELECT in_id, match_id FROM cand0
           JOIN csurv ON csurv.doc_id = cand0.match_id
           WHERE n_common >= least(2, ni, csurv.ns)
         )
         SELECT in_id AS doc_id, match_id, floor(j * 1e4 + 0.5) / 1e4 AS jaccard FROM (
           SELECT c.in_id, c.match_id,
             CAST(len(list_intersect(si.sh, sc.sh)) AS DOUBLE) /
               (len(si.sh) + len(sc.sh) - len(list_intersect(si.sh, sc.sh))) AS j
           FROM cand c JOIN arriving si ON si.doc_id = c.in_id
                       JOIN corpus sc ON sc.doc_id = c.match_id)
         WHERE j >= 0.5""",
    // dedup_clusters: same pair pipeline, then connected components as a
    // WITH RECURSIVE reachability closure (min reachable id = the label
    // Spark's pointer-jumping propagation converges to)
    "dedup_clusters" ->
      """WITH RECURSIVE tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), posting AS (
           SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM sh
         ), rare AS (
           SELECT shingle FROM posting GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         ), surv AS (
           SELECT doc_id, count(*) AS ns FROM posting JOIN rare USING (shingle) GROUP BY 1
         ), cand0 AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
           FROM posting a JOIN rare USING (shingle) JOIN posting b USING (shingle)
           WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), cand AS (
           SELECT id_a, id_b FROM cand0
           JOIN surv xa ON xa.doc_id = cand0.id_a
           JOIN surv xb ON xb.doc_id = cand0.id_b
           WHERE n_common >= least(2, xa.ns, xb.ns)
         ), pairs AS (
           SELECT c.id_a, c.id_b
           FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
           WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst
         ), labels AS (
           SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
         )
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM labels""",
    "similarity_topk" ->
      """SELECT vec_id, floor(sim * 1e4 + 0.5) / 1e4 AS sim FROM (
           SELECT e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(t.embedding AS DOUBLE[])) AS sim
           FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) t
           ORDER BY sim DESC, vec_id LIMIT 10)""",
    "similarity_knn_join" ->
      """SELECT q_id, vec_id, floor(sim * 1e4 + 0.5) / 1e4 AS sim FROM (
           SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
           FROM (
             SELECT q.vec_id AS q_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
             FROM embeddings e, embeddings q WHERE q.vec_id < 5))
         WHERE rn <= 5""",
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang""",
    "token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
         FROM documents""",
    // similarity_ivf: the ENTIRE trained-ANN pipeline replayed — sampled
    // k-means init, two Lloyd rounds, assignment, probe, top-k. Possible
    // because every step is deterministic by construction: decimal-exact
    // means cast to double before division, cosine spelled as
    // dot/(sqrt(dot aa)*sqrt(dot bb)) (the identical IEEE op sequence in
    // both engines), and (dist, centroid_id) tie-breaks everywhere.
    "similarity_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), samp AS (SELECT vec_id % 16 AS cid, vec_id, v FROM e WHERE vec_id % 5 = 0
         ), c0 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM samp)
             GROUP BY cid, pos) GROUP BY cid
         ), a1 AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM samp s CROSS JOIN c0 c) WHERE rn = 1
         ), c1 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a1)
             GROUP BY cid, pos) GROUP BY cid
         ), a2 AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM samp s CROSS JOIN c1 c) WHERE rn = 1
         ), c2 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a2)
             GROUP BY cid, pos) GROUP BY cid
         ), assigned AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM e s CROSS JOIN c2 c) WHERE rn = 1
         ), q AS (SELECT v AS qv FROM e WHERE vec_id = 0
         ), probed AS (SELECT cid FROM (
             SELECT c.cid, 1.0 - list_dot_product(c.cvec, q.qv) / (sqrt(list_dot_product(c.cvec, c.cvec)) * sqrt(list_dot_product(q.qv, q.qv))) AS qdist
             FROM c2 c CROSS JOIN q ORDER BY qdist ASC, c.cid ASC LIMIT 4))
         SELECT a.vec_id, floor((list_dot_product(a.v, q.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))) * 1e4 + 0.5) / 1e4 AS sim
         FROM assigned a CROSS JOIN q
         WHERE a.cid IN (SELECT cid FROM probed)
         ORDER BY list_dot_product(a.v, q.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC, a.vec_id ASC LIMIT 10""",
    // similarity_pq: product quantization replayed END-TO-END — per-subspace
    // vec_id%16 init, two Lloyd rounds of exact-decimal means + L2² argmin
    // ((dist, code) tie-break), full-corpus encode, ADC distance as the
    // j-ordered left-fold sum (l[1]+l[2]+l[3]+l[4] pins Spark's fold order)
    "similarity_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), sub AS (
           SELECT vec_id, j, list_slice(v, j*16+1, j*16+16) AS sv
           FROM e, (SELECT unnest(range(4)) AS j)
         ), samp AS (
           SELECT vec_id, j, sv, CAST(vec_id % 16 AS INT) AS code FROM sub WHERE vec_id % 5 = 0
         ), c0 AS (
           SELECT j, code, list(mx ORDER BY pos) AS cv FROM (
             SELECT j, code, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT j, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM samp)
             GROUP BY j, code, pos) GROUP BY j, code
         ), a1 AS (
           SELECT vec_id, j, sv, code FROM (
             SELECT s.vec_id, s.j, s.sv, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 list_dot_product(s.sv, s.sv) - 2*list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv) ASC, c.code ASC) AS rn
             FROM samp s JOIN c0 c ON s.j = c.j) WHERE rn = 1
         ), c1 AS (
           SELECT j, code, list(mx ORDER BY pos) AS cv FROM (
             SELECT j, code, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT j, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM a1)
             GROUP BY j, code, pos) GROUP BY j, code
         ), a2 AS (
           SELECT vec_id, j, sv, code FROM (
             SELECT s.vec_id, s.j, s.sv, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 list_dot_product(s.sv, s.sv) - 2*list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv) ASC, c.code ASC) AS rn
             FROM samp s JOIN c1 c ON s.j = c.j) WHERE rn = 1
         ), c2 AS (
           SELECT j, code, list(mx ORDER BY pos) AS cv FROM (
             SELECT j, code, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT j, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos FROM a2)
             GROUP BY j, code, pos) GROUP BY j, code
         ), enc AS (
           SELECT vec_id, j, code FROM (
             SELECT s.vec_id, s.j, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 list_dot_product(s.sv, s.sv) - 2*list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv) ASC, c.code ASC) AS rn
             FROM sub s JOIN c2 c ON s.j = c.j) WHERE rn = 1
         ), q AS (SELECT j, sv AS qv FROM sub WHERE vec_id = 0
         ), dists AS (
           SELECT enc.vec_id, enc.j,
             list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, c.cv) + list_dot_product(c.cv, c.cv) AS d
           FROM enc JOIN c2 c ON enc.j = c.j AND enc.code = c.code
                    JOIN q ON q.j = enc.j
         ), adc AS (
           SELECT vec_id, l[1] + l[2] + l[3] + l[4] AS d_exact
           FROM (SELECT vec_id, list(d ORDER BY j) AS l FROM dists GROUP BY vec_id)
         )
         SELECT vec_id, floor(d_exact * 1e4 + 0.5) / 1e4 AS adc
         FROM adc ORDER BY d_exact ASC, vec_id ASC LIMIT 10""",
    // dedup_semantic: SemDeDup replayed END-TO-END — exact-arithmetic twin
    // planting (integer scramble, IEEE-identical noise formula), then the
    // similarity_ivf k-means chain (same sampled init, Lloyd rounds, and
    // (dist, cid) tie-breaks) over the doubled corpus, then the
    // within-cluster cosine ≥ 0.95 lower-id prune. Unlike the seeded-hash
    // LSH gates, every stage here is arithmetic both engines compute
    // identically, so the kept-set hash-matches.
    "dedup_semantic" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), tw AS (
           SELECT vec_id + 1000000000 AS vec_id, list(x2 ORDER BY pos) AS v FROM (
             SELECT vec_id, pos,
               x + 0.02 * (CAST((((vec_id + 1000000000) % 100003) * 2654435761 + (pos - 1) * 40503) % 1000 AS DOUBLE) / 1000.0 - 0.5) AS x2
             FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM base))
           GROUP BY vec_id
         ), e AS (SELECT * FROM base UNION ALL SELECT * FROM tw
         ), kk AS (SELECT greatest(16, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS k FROM e
         ), samp AS (SELECT vec_id % k AS cid, vec_id, v FROM e, kk WHERE vec_id % 5 = 0
         ), c0 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM samp)
             GROUP BY cid, pos) GROUP BY cid
         ), a1 AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM samp s CROSS JOIN c0 c) WHERE rn = 1
         ), c1 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a1)
             GROUP BY cid, pos) GROUP BY cid
         ), a2 AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM samp s CROSS JOIN c1 c) WHERE rn = 1
         ), c2 AS (
           SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
             SELECT cid, pos, CAST(sum(CAST(x AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS mx
             FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a2)
             GROUP BY cid, pos) GROUP BY cid
         ), assigned AS (
           SELECT vec_id, v, cid FROM (
             SELECT s.vec_id, s.v, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY 1.0 - list_dot_product(s.v, c.cvec) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) ASC, c.cid ASC) AS rn
             FROM e s CROSS JOIN c2 c) WHERE rn = 1
         ), dup AS (
           SELECT DISTINCT y.vec_id
           FROM assigned x JOIN assigned y ON x.cid = y.cid AND x.vec_id < y.vec_id
           WHERE list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.95)
         SELECT a.vec_id, a.cid AS centroid_id FROM assigned a
         WHERE a.vec_id NOT IN (SELECT vec_id FROM dup)""",
    "token_count_bpe" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
         len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_bpeish
         FROM documents""",
    // text_dup_spans: ExactSubstr-style duplicated 20-token-window counts
    // (window hash = md5 prefix of the space-joined window, df over
    // distinct docs).
    "text_dup_spans" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), w AS (
           SELECT doc_id,
             unnest([('0x' || substring(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT
                     for i in generate_series(1, len(t) - 19)]) AS wh
           FROM tok WHERE len(t) >= 20
         ), hot AS (
           SELECT wh FROM (SELECT DISTINCT wh, doc_id FROM w)
           GROUP BY wh HAVING count(*) >= 2
         ), dup AS (
           SELECT doc_id, count(*) AS n_dup_windows FROM w JOIN hot USING (wh)
           GROUP BY doc_id
         ), tot AS (
           SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id
         )
         SELECT t.doc_id, t.n_windows,
           coalesce(d.n_dup_windows, 0) AS n_dup_windows
         FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id""",
    // text_despanned: the ExactSubstr REMOVAL — duplicated 20-token
    // windows vanish everywhere but their lowest-doc_id owner; surviving
    // tokens reassemble in order (whitespace-normalized lowercase).
    "text_despanned" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), seq AS (
           SELECT doc_id, unnest(t) AS tk, generate_subscripts(t, 1) AS pos FROM tok
         ), w AS (
           SELECT doc_id,
             unnest([{'pos': i,
                      'wh': ('0x' || substring(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT}
                     for i in generate_series(1, len(t) - 19)], recursive := true)
           FROM tok WHERE len(t) >= 20
         ), own AS (
           SELECT wh, min(doc_id) AS owner
           FROM (SELECT DISTINCT wh, doc_id FROM w)
           GROUP BY wh HAVING count(*) >= 2
         ), rem AS (
           SELECT DISTINCT w.doc_id, w.pos + k AS j
           FROM w JOIN own USING (wh), generate_series(0, 19) g(k)
           WHERE w.doc_id <> own.owner
         ), prot AS (
           SELECT DISTINCT w.doc_id, w.pos + k AS j
           FROM w JOIN own USING (wh), generate_series(0, 19) g(k)
           WHERE w.doc_id = own.owner
         ), cov AS (
           SELECT r.doc_id, r.j FROM rem r
           LEFT JOIN prot p ON r.doc_id = p.doc_id AND r.j = p.j
           WHERE p.j IS NULL
         ), kept AS (
           SELECT s.doc_id, s.pos, s.tk FROM seq s
           LEFT JOIN cov ON s.doc_id = cov.doc_id AND s.pos = cov.j
           WHERE cov.j IS NULL
         ), agg AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS text_clean
           FROM kept GROUP BY doc_id
         )
         SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean
         FROM tok t LEFT JOIN agg a ON t.doc_id = a.doc_id""",
    // text_despan_reference: surgical decontamination — every 20-token
    // train window whose hash exists in the benchmark split's window
    // universe is cut (no ownership exception), survivors reassemble in
    // order; whole-doc coverage comes back as ''
    "text_despan_reference" ->
      """WITH tr AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents WHERE doc_id % 10 <> 0
         ), seq AS (
           SELECT doc_id, unnest(t) AS tk, generate_subscripts(t, 1) AS pos FROM tr
         ), w AS (
           SELECT doc_id,
             unnest([{'pos': i,
                      'wh': ('0x' || substring(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT}
                     for i in generate_series(1, len(t) - 19)], recursive := true)
           FROM tr WHERE len(t) >= 20
         ), rw AS (
           SELECT DISTINCT
             unnest([('0x' || substring(md5(array_to_string(t[i:i+19], ' ')), 1, 15))::BIGINT
                     for i in generate_series(1, len(t) - 19)]) AS wh
           FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE doc_id % 10 = 0)
           WHERE len(t) >= 20
         ), cov AS (
           SELECT DISTINCT w.doc_id, w.pos + k AS j
           FROM w JOIN rw USING (wh), generate_series(0, 19) g(k)
         ), kept AS (
           SELECT s.doc_id, s.pos, s.tk FROM seq s
           LEFT JOIN cov ON s.doc_id = cov.doc_id AND s.pos = cov.j
           WHERE cov.j IS NULL
         ), agg AS (
           SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS text_clean
           FROM kept GROUP BY doc_id
         )
         SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean
         FROM tr t LEFT JOIN agg a ON t.doc_id = a.doc_id""",
    // text_fingerprint: exact + robust (min-shingle) md5-prefix hashes.
    "text_fingerprint" ->
      """WITH tok AS (
           SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, text, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         )
         SELECT doc_id,
           ('0x' || substring(md5(trim(lower(text))), 1, 15))::BIGINT AS fp,
           (SELECT min(('0x' || substring(md5(s.s), 1, 15))::BIGINT)
            FROM unnest(sh) AS s(s)) AS fp_robust
         FROM sh""",
    // text_analysis: the text_quality panel plus the md5-prefix content
    // fingerprint — every column now exact arithmetic DuckDB replays.
    "text_analysis" ->
      """WITH tok AS (
           SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), feat AS (
           SELECT doc_id, text, len(t) AS n_tokens,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl,
             list_sort([
               {'hits': len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it','for','with'], x))), 'lang': 'en'},
               {'hits': len(list_filter(t, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))), 'lang': 'es'},
               {'hits': len(list_filter(t, x -> list_contains(['le','la','de','et','les','des','en','un','une','du'], x))), 'lang': 'fr'},
               {'hits': len(list_filter(t, x -> list_contains(['der','die','und','das','von','zu','den','mit','ist','des'], x))), 'lang': 'de'},
               {'hits': len(list_filter(t, x -> list_contains(['的','了','是','在','我','有','和','就','不','人'], x))), 'lang': 'zh'}
             ])[-1] AS best
           FROM tok
         )
         SELECT doc_id, n_tokens,
           floor(((len_score + punct_score + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
                  + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) / 1e6 AS quality,
           CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
           ('0x' || substring(md5(trim(lower(text))), 1, 15))::BIGINT AS fp
         FROM feat""",
    "text_quality" ->
      """WITH tok AS (
           SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), feat AS (
           SELECT doc_id, len(t) AS n_tokens,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl,
             list_sort([
               {'hits': len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','it','for','with'], x))), 'lang': 'en'},
               {'hits': len(list_filter(t, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))), 'lang': 'es'},
               {'hits': len(list_filter(t, x -> list_contains(['le','la','de','et','les','des','en','un','une','du'], x))), 'lang': 'fr'},
               {'hits': len(list_filter(t, x -> list_contains(['der','die','und','das','von','zu','den','mit','ist','des'], x))), 'lang': 'de'},
               {'hits': len(list_filter(t, x -> list_contains(['的','了','是','在','我','有','和','就','不','人'], x))), 'lang': 'zh'}
             ])[-1] AS best
           FROM tok
         )
         SELECT doc_id, n_tokens,
           floor(((len_score + punct_score + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
                  + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) / 1e6 AS quality,
           CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
         FROM feat""",
    // pipeline_clean_corpus: the dedup_clusters + text_repetition +
    // text_quality oracles composed verbatim — one CTE chain, same
    // thresholds as Corpus.cleanCorpus
    "pipeline_clean_corpus" ->
      """WITH RECURSIVE tok AS (
           SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), posting AS (
           SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM sh
         ), rare AS (
           SELECT shingle FROM posting GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         ), surv AS (
           SELECT doc_id, count(*) AS ns FROM posting JOIN rare USING (shingle) GROUP BY 1
         ), cand0 AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
           FROM posting a JOIN rare USING (shingle) JOIN posting b USING (shingle)
           WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2
         ), cand AS (
           SELECT id_a, id_b FROM cand0
           JOIN surv xa ON xa.doc_id = cand0.id_a
           JOIN surv xb ON xb.doc_id = cand0.id_b
           WHERE n_common >= least(2, xa.ns, xb.ns)
         ), pairs AS (
           SELECT c.id_a, c.id_b
           FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
           WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs
         ), reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst
         ), labels AS (
           SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
         ), grams AS (
           SELECT doc_id, 1 AS n, unnest(t) AS g FROM tok
           UNION ALL
           SELECT doc_id, 2 AS n,
             unnest([array_to_string(t[i:i+1], ' ') for i in generate_series(1, len(t)-1)]) AS g
           FROM tok
           UNION ALL
           SELECT doc_id, 3 AS n,
             unnest([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS g
           FROM tok
         ), per AS (
           SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
         ), rep AS (
           SELECT doc_id,
             floor(CAST(sum(CASE WHEN n = 1 THEN 1 END) AS DOUBLE)
               / sum(CASE WHEN n = 1 THEN cnt END) * 1e6 + 0.5) / 1e6 AS distinct_token_ratio,
             floor(CAST(max(CASE WHEN n = 2 THEN cnt END) AS DOUBLE)
               / sum(CASE WHEN n = 2 THEN cnt END) * 1e6 + 0.5) / 1e6 AS top_bigram_frac
           FROM per GROUP BY 1
         ), feat AS (
           SELECT doc_id,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl
           FROM tok
         ), qual AS (
           SELECT doc_id,
             floor(((len_score + punct_score + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
                    + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) / 1e6 AS quality
           FROM feat
         )
         SELECT d.doc_id, d.lang, q.quality
         FROM documents d
         JOIN rep r ON r.doc_id = d.doc_id
         JOIN qual q ON q.doc_id = d.doc_id
         WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
           AND q.quality >= 0.6
           AND r.distinct_token_ratio >= 0.3
           AND (r.top_bigram_frac IS NULL OR r.top_bigram_frac <= 0.1)""",
    // corpus_token_mix: deterministic systematic sampling under token
    // budgets — multiplicative doc_id scramble over a 2^31 ring (the
    // pre-reduction keeps the product < 2^63: exact i64 in both engines
    // for any doc_id) + per-lang running sum
    // corpus_sample_stratified: the per-stratum pick replays — the same
    // Weyl scramble as corpus_token_mix, row_number per lang, keep ≤ 40
    "corpus_sample_stratified" ->
      """WITH r AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648 ASC,
                        doc_id ASC) AS rn
           FROM documents
         )
         SELECT doc_id, lang FROM r WHERE rn <= 40""",
    "corpus_token_mix" ->
      """WITH tok AS (
           SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
             ((doc_id % 2147483648) * 2654435761) % 2147483648 AS h
           FROM documents
           WHERE lang IN ('en', 'es', 'de')
         ), cum AS (
           SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_tokens
           FROM tok
         )
         SELECT doc_id, lang, n_tokens, running_tokens FROM cum
         WHERE running_tokens <= CASE lang WHEN 'en' THEN 3000
           WHEN 'es' THEN 1500 WHEN 'de' THEN 500 END""",
    // corpus_temperature_mix: α=0.5 keep rates — √(n_min/nᵢ) is one IEEE
    // division + one exactly-rounded sqrt in both engines; everything
    // after is integer (threshold, Weyl scramble, keep decision)
    "corpus_temperature_mix" ->
      """WITH tok AS (
           SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents
         ), per AS (
           SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM tok GROUP BY source
         ), thr AS (
           SELECT source,
             CAST(floor(sqrt(CAST((SELECT min(src_tokens) FROM per) AS DOUBLE)
                             / CAST(src_tokens AS DOUBLE)) * 1048576 + 0.5) AS BIGINT) AS thr
           FROM per
         )
         SELECT t.source, count(*) AS n_kept,
           CAST(sum(t.n_tokens) AS BIGINT) AS kept_tokens, max(h.thr) AS thr
         FROM tok t JOIN thr h ON t.source = h.source
         WHERE ((t.doc_id % 2147483648) * 2654435761) % 2147483648 % 1048576 < h.thr
         GROUP BY t.source""",
    // corpus_stats_report: integer-exact data card (counts, token totals,
    // dup mass over normalized text, Σ round(quality·1e4) as BIGINT — no
    // float mean to disagree on); quality spelling shared with text_quality
    "corpus_stats_report" ->
      """WITH tok AS (
           SELECT doc_id, lang, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), feat AS (
           SELECT lang, text, CAST(len(t) AS BIGINT) AS n_tokens,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl
           FROM tok
         )
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           count(DISTINCT trim(lower(text))) AS distinct_texts,
           CAST(sum(CAST(floor(
                 floor(((len_score + punct_score
                 + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
                 + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) / 1e6
                 * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS quality_mass_4dp,
           count(*) - count(DISTINCT trim(lower(text))) AS dup_docs
         FROM feat GROUP BY lang""",
    // corpus_quality_topfrac: integer-exact per-language percentile — rank
    // on round(q·1e6) with doc_id tie-break, keep rank ≤ ceil(n·frac);
    // quality spelling shared with text_quality
    "corpus_quality_topfrac" ->
      """WITH tok AS (
           SELECT doc_id, lang, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), feat AS (
           SELECT doc_id, lang,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl
           FROM tok
         ), scored AS (
           SELECT doc_id, lang,
             CAST(floor(((len_score + punct_score
               + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
               + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) AS BIGINT) AS q6
           FROM feat
         ), ranked AS (
           SELECT doc_id, lang, q6,
             row_number() OVER (PARTITION BY lang ORDER BY q6 DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM scored
         )
         SELECT doc_id, lang, CAST(q6 AS DOUBLE) / 1e6 AS quality
         FROM ranked WHERE rk <= ceil(n * 0.5)""",
    // corpus_vocab: min-count token vocabulary — integer-exact counts over
    // the shared whitespace tokenization (token_count's oracle spelling)
    "corpus_vocab" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
               FROM documents)
         WHERE len(token) > 0
         GROUP BY token HAVING count(*) >= 3""",
    // corpus_oov_rate: occurrences of sub-min-count tokens per doc — the
    // same tokenization + vocab CTE as corpus_vocab, integer-exact
    "corpus_oov_rate" ->
      """WITH occ AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
           FROM documents
         ), occ2 AS (
           SELECT doc_id, token FROM occ WHERE len(token) > 0
         ), vocab AS (
           SELECT token FROM occ2 GROUP BY token HAVING count(*) >= 3
         ), agg AS (
           SELECT o.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
           FROM occ2 o LEFT JOIN vocab v ON o.token = v.token
           GROUP BY o.doc_id
         )
         SELECT doc_id, n_tokens, n_oov,
           CAST(floor(CAST(n_oov AS DOUBLE) / n_tokens * 1e6 + 0.5) AS BIGINT) AS oov_q6
         FROM agg""",
    // corpus_bpe_merges: the whole 10-round training loop replays —
    // word-frequency table, per-round pair argmax with (count, lhs, rhs)
    // tie-break, and the greedy wrapped-symbol merge
    "corpus_bpe_merges" -> bpeMergesOracle(10),
    // corpus_bpe_tokenize: training chain + per-word apply chain — both
    // directions of the tokenizer replay
    "corpus_bpe_tokenize" -> bpeTokenizeOracle(10),
    // corpus_cap_source: per-domain quality cap — the corpus_quality_topfrac
    // scored CTE partitioned by source with a fixed keep count
    "corpus_cap_source" ->
      """WITH tok AS (
           SELECT doc_id, source, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), feat AS (
           SELECT doc_id, source,
             least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                         / greatest(len(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], x))) AS DOUBLE)
               / greatest(len(t), 1) AS swr,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / greatest(len(t), 1) AS mwl
           FROM tok
         ), scored AS (
           SELECT doc_id, source,
             CAST(floor(((len_score + punct_score
               + (1.0 - least(abs(swr - 0.4) * 2.0, 1.0))
               + (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))) / 4.0) * 1e6 + 0.5) AS BIGINT) AS q6
           FROM feat
         ), ranked AS (
           SELECT doc_id, source, q6,
             row_number() OVER (PARTITION BY source ORDER BY q6 DESC, doc_id ASC) AS rk
           FROM scored
         )
         SELECT doc_id, source, CAST(q6 AS DOUBLE) / 1e6 AS quality
         FROM ranked WHERE rk <= 10""",
    // multimodal_pipeline: the stub codecs are oracle-portable arithmetic —
    // dims from the md5-60-bit base of the payload bytes (= the UTF-8 text
    // here), frame count from the UTF-8 byte length
    "multimodal_pipeline" ->
      """WITH m AS (
           SELECT
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
             ('0x' || substring(md5(text), 1, 15))::BIGINT AS h,
             octet_length(CAST(text AS BLOB)) AS nb
           FROM documents
         )
         SELECT kind, count(*) AS n_media,
           CAST(64 + min(h % 512) AS BIGINT) AS min_w,
           CAST(64 + max((h // 512) % 512) AS BIGINT) AS max_h,
           CAST(sum(greatest(nb // 256, 1)) AS BIGINT) AS total_frames
         FROM m GROUP BY kind""",
    // multimodal_wav_decode: the REAL RIFF parser's output vs an analytic
    // replay of the integer sawtooth the synthesizer wrote — the oracle
    // never parses bytes, so any header/stride/sign bug in the parser
    // diverges. Exact: samples are int, sum(v²) < 2^53, sqrt is IEEE.
    "multimodal_wav_decode" ->
      """WITH params AS (
           SELECT doc_id, 256 + doc_id % 128 AS n, 131 + doc_id % 97 AS step
           FROM documents
         ), ks AS (
           SELECT doc_id, n, step,
             unnest(generate_series(0, n - 1)) AS k
           FROM params
         ), s AS (
           SELECT doc_id, n, ((k * step + 17) % 65536) - 32768 AS v FROM ks
         )
         SELECT doc_id AS media_id, CAST(max(n) AS BIGINT) AS n_samples,
           CAST(max(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(floor(sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)) * 1e6 + 0.5) AS BIGINT) AS rms_q6,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(1 AS BIGINT) AS channels,
           CAST(8000 AS BIGINT) AS sample_rate
         FROM s GROUP BY doc_id""",
    // multimodal_bmp_decode: the REAL BMP parser (bottom-up AND top-down
    // row order by id parity) vs the analytic pixel gradient; the corner
    // lumas pin the row origin — channel sums alone are order-invariant
    "multimodal_bmp_decode" ->
      """WITH params AS (
           SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
           FROM documents
         ), px0 AS (
           SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
           FROM params
         ), c AS (
           SELECT doc_id, w, h, p % w AS x, p // w AS y,
             (13 * (p % w) + 17 * (p // w) + 3 * doc_id) % 256 AS r,
             (7 * (p % w) + 11 * (p // w) + 2 * doc_id) % 256 AS g,
             (5 * (p % w) + 3 * (p // w) + doc_id) % 256 AS b
           FROM px0
         )
         SELECT doc_id AS media_id,
           CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN x = 0 AND y = 0
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS first_luma,
           CAST(max(CASE WHEN x = w - 1 AND y = h - 1
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS last_luma
         FROM c GROUP BY doc_id""",
    // multimodal_png_decode: the REAL PNG decode (DEFLATE + per-row
    // unfiltering, filter type = y mod 5) vs the analytic gradient — the
    // oracle never touches compression, so the entire inflate+unfilter
    // path is pinned by pixel-exact agreement
    "multimodal_png_decode" ->
      """WITH params AS (
           SELECT doc_id, 5 + doc_id % 12 AS w, 5 + doc_id % 9 AS h
           FROM documents
         ), px0 AS (
           SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
           FROM params
         ), c AS (
           SELECT doc_id, w, h, p % w AS x, p // w AS y,
             (11 * (p % w) + 23 * (p // w) + doc_id) % 256 AS r,
             (19 * (p % w) + 5 * (p // w) + 2 * doc_id) % 256 AS g,
             (3 * (p % w) + 29 * (p // w) + 5 * doc_id) % 256 AS b
           FROM px0
         )
         SELECT doc_id AS media_id,
           CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN x = 0 AND y = 0
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS first_luma,
           CAST(max(CASE WHEN x = w - 1 AND y = h - 1
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS last_luma
         FROM c GROUP BY doc_id""",
    // multimodal_resize_decode: nearest-neighbor sampling map composed
    // with the PNG gradient, then BMP re-encode/re-decode — the oracle
    // evaluates gradient(src(x), src(y)) directly; the whole
    // decode→resample→encode→decode chain must be pixel-exact
    "multimodal_resize_decode" ->
      """WITH params AS (
           SELECT doc_id, 5 + doc_id % 12 AS w, 5 + doc_id % 9 AS h
           FROM documents
         ), px0 AS (
           SELECT doc_id, w, h, unnest(generate_series(0, 7 * 6 - 1)) AS p
           FROM params
         ), m AS (
           SELECT doc_id, w, h, p % 7 AS x, p // 7 AS y,
             ((p % 7) * w) // 7 AS sx, ((p // 7) * h) // 6 AS sy
           FROM px0
         ), c AS (
           SELECT doc_id, x, y,
             (11 * sx + 23 * sy + doc_id) % 256 AS r,
             (19 * sx + 5 * sy + 2 * doc_id) % 256 AS g,
             (3 * sx + 29 * sy + 5 * doc_id) % 256 AS b
           FROM m
         )
         SELECT doc_id AS media_id,
           CAST(7 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN x = 0 AND y = 0
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS first_luma,
           CAST(max(CASE WHEN x = 6 AND y = 5
             THEN (299 * r + 587 * g + 114 * b) // 1000 END) AS BIGINT) AS last_luma
         FROM c GROUP BY doc_id""",
    // multimodal_audio_frames: REAL WAV framing (160-sample windows, last
    // short frame kept) vs the sawtooth grouped by k div 160 — exact
    // integer energy probes, no float drift
    "multimodal_audio_frames" ->
      """WITH params AS (
           SELECT doc_id, 256 + doc_id % 128 AS n, 131 + doc_id % 97 AS step
           FROM documents
         ), ks AS (
           SELECT doc_id, step,
             unnest(generate_series(0, n - 1)) AS k
           FROM params
         ), s AS (
           SELECT doc_id, k // 160 AS frame_no,
             ((k * step + 17) % 65536) - 32768 AS v
           FROM ks
         )
         SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS BIGINT) AS peak
         FROM s GROUP BY doc_id, frame_no""",
    // multimodal_ulaw_decode: the CCITT ulaw2linear formula replayed in
    // SQL — complement, mantissa/exponent split, shift, sign — against
    // the parser's per-byte expansion; bits=8 pins the format dispatch
    "multimodal_ulaw_decode" ->
      """WITH params AS (
           SELECT doc_id, 200 + doc_id % 100 AS n FROM documents
         ), ks AS (
           SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k
           FROM params
         ), dec AS (
           SELECT doc_id, n,
             CASE WHEN (255 - ((k * 131 + doc_id % 256) % 256)) >= 128
               THEN 132 - ((((255 - ((k * 131 + doc_id % 256) % 256)) % 16) * 8 + 132)
                 * (1 << (((255 - ((k * 131 + doc_id % 256) % 256)) // 16) % 8)))
               ELSE ((((255 - ((k * 131 + doc_id % 256) % 256)) % 16) * 8 + 132)
                 * (1 << (((255 - ((k * 131 + doc_id % 256) % 256)) // 16) % 8))) - 132
             END AS s
           FROM ks
         )
         SELECT doc_id AS media_id, CAST(max(n) AS BIGINT) AS n_samples,
           CAST(max(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(floor(sqrt(CAST(sum(s * s) AS DOUBLE) / max(n)) * 1e6 + 0.5) AS BIGINT) AS rms_q6,
           CAST(max(abs(s)) AS BIGINT) AS peak,
           CAST(8 AS BIGINT) AS bits
         FROM dec GROUP BY doc_id""",
    // multimodal_frames: REAL MJPEG-in-AVI demux + baseline JPEG decode,
    // every 4th frame — the oracle recomputes each sampled frame's pixel
    // stats from the constant-block formula (4 blocks of 64 pixels at
    // (31f + 17bx + 23by + id) mod 256); it never sees a byte, so any
    // Huffman/DC-prediction/restart/dequant/demux mistake hash-fails
    "multimodal_frames" ->
      """WITH v AS (
           SELECT doc_id AS media_id, 3 + doc_id % 4 AS nf
           FROM documents WHERE doc_id % 3 = 2
         ), fr AS (
           SELECT media_id, unnest(range(0, nf, 4)) AS f
           FROM v
         )
         SELECT media_id, CAST(f AS BIGINT) AS frame_no,
           CAST(256 AS BIGINT) AS n_px,
           CAST(64 * ( (31 * f + media_id) % 256
                     + (31 * f + 17 + media_id) % 256
                     + (31 * f + 23 + media_id) % 256
                     + (31 * f + 40 + media_id) % 256 ) AS BIGINT) AS sum_luma,
           CAST((31 * f + media_id) % 256 AS BIGINT) AS first_luma,
           CAST((31 * f + 40 + media_id) % 256 AS BIGINT) AS last_luma
         FROM fr""",
    // corpus_split: partition-stable split assignment — pure integer
    // arithmetic on doc_id, identical in both engines
    "corpus_split" ->
      """SELECT doc_id,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, ((doc_id % 1000003) * 2654435761 + 40503) % 100 AS b
               FROM documents)""",
    // text_boilerplate: plant high-df footers/header + a rare (df≈2)
    // footer, strip lines with df ≥ 10, reassemble in original line order
    "text_boilerplate" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'Cookie notice: we use cookies' || chr(10) ELSE '' END
             || text
             || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Subscribe to our newsletter!' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'Copyright 2026 Example Corp' ELSE '' END
             || CASE WHEN doc_id % 251 = 0 THEN chr(10) || 'Rare footer line' ELSE '' END AS text
           FROM documents
         ), lines AS (
           SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM planted)
         ), hot AS (
           SELECT line FROM lines WHERE trim(line) != ''
           GROUP BY line HAVING count(DISTINCT doc_id) >= 10
         )
         SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
         FROM lines WHERE line NOT IN (SELECT line FROM hot)
         GROUP BY doc_id""",
    // text_dedup_lines: within-doc first-occurrence line dedup — blank
    // lines pass through, repeated non-blank lines keep min(pos) only
    "text_dedup_lines" ->
      """WITH planted AS (
           SELECT doc_id, text || chr(10) || 'repeat me'
             || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'repeat me' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN chr(10) || text ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'unique ' || CAST(doc_id AS VARCHAR) ELSE '' END AS text
           FROM documents
         ), lines AS (
           SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM planted)
         ), kept AS (
           SELECT doc_id, pos, line FROM lines WHERE trim(line) = ''
           UNION ALL
           SELECT doc_id, min(pos) AS pos, line FROM lines WHERE trim(line) != ''
           GROUP BY doc_id, line
         )
         SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
         FROM kept GROUP BY doc_id""",
    // text_bm25_topk: the whole BM25 ranking replays — dl/N/avgdl from the
    // shared tokenization, per-(doc,term) q6-rounded scores (k1=1.5,
    // b=0.75 keep every constant exact), integer doc sums, total
    // (score DESC, doc_id) order
    "text_bm25_topk" ->
      """WITH tok AS (
           SELECT doc_id, token FROM (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents)
           WHERE len(token) > 0
         ), dl AS (
           SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
         ), stats AS (
           SELECT count(*) AS n, sum(dl) AS t FROM dl
         ), q AS (
           SELECT * FROM (VALUES ('join'),('vector'),('merge'),('filter'),('line')) q(term)
         ), tf AS (
           SELECT doc_id, token AS term, count(*) AS tf
           FROM tok JOIN q ON token = term GROUP BY 1, 2
         ), dfs AS (
           SELECT term, count(*) AS df FROM tf GROUP BY term
         ), sc AS (
           SELECT tf.doc_id,
             CAST(floor(
               ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.5)
               / (CAST(tf AS DOUBLE)
                  + 1.5 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                           / (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))))
               * 1e6 + 0.5) AS BIGINT) AS s_q6
           FROM tf
           JOIN dl USING (doc_id)
           JOIN dfs USING (term)
           CROSS JOIN stats
         )
         SELECT doc_id, CAST(sum(s_q6) AS BIGINT) AS bm25_q6
         FROM sc GROUP BY doc_id
         ORDER BY bm25_q6 DESC, doc_id
         LIMIT 50""",
    // text_scrub_pii: patterns restricted to the Java-regex ∩ RE2 dialect
    // (TextOps.piiPatterns) — counts on raw text, sequential replacement
    "text_scrub_pii" ->
      """WITH planted AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN ' from host 192.168.1.77' ELSE '' END ||
             CASE WHEN doc_id % 13 = 0 THEN ' call 555-867-5309 now' ELSE '' END AS text
           FROM documents
         )
         SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           len(regexp_extract_all(text, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS text_clean
         FROM planted""",
    // corpus_pack_sequences: all-integer packing arithmetic (Weyl scramble,
    // per-shard running sums, floor division) — engine-exact by construction
    "corpus_pack_sequences" ->
      """WITH tok AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
             ((doc_id % 2147483648) * 2654435761) % 2147483648 AS h
           FROM documents
         ), placed AS (
           SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h ASC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
           FROM tok
         )
         SELECT doc_id, shard, n_tokens, end_tok - n_tokens AS start_tok,
           CAST(floor((end_tok - n_tokens) / 512) AS BIGINT) AS first_seq,
           CAST(floor((end_tok - 1) / 512) AS BIGINT) AS last_seq
         FROM placed""",
    // corpus_decontam: train-vs-eval shingle overlap — counts and an exact
    // ratio of small integers, so DuckDB replays on shingle strings
    "corpus_decontam" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), eval_set AS (
           SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 10 = 0
         ), post AS (
           SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 10 <> 0
         )
         SELECT p.doc_id, count(*) AS n_sh, count(e.shingle) AS n_hit,
           floor(CAST(count(e.shingle) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS contamination
         FROM post p LEFT JOIN eval_set e ON p.shingle = e.shingle
         GROUP BY 1""",
    // corpus_bloom_decontam: the Bloom bitmap replayed as its position
    // set — bit c set in the bitmap ⟺ c in the eval side's distinct cell
    // set, so the bit test IS the position-set membership join; a train
    // shingle is a (maybe-)hit iff all 5 of its cells are present,
    // false positives included deterministically
    "corpus_bloom_decontam" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), ds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) d(j)),
         evs AS (
           SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 10 = 0
         ), pos AS (
           SELECT DISTINCT
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || s), 1, 15))::BIGINT % 262144 AS cell
           FROM evs CROSS JOIN ds
         ), trs AS (
           SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 10 <> 0
         ), prc AS (
           SELECT doc_id, s, j,
             ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || s), 1, 15))::BIGINT % 262144 AS cell
           FROM trs CROSS JOIN ds
         ), flg AS (
           SELECT doc_id, s, min(CASE WHEN p.cell IS NULL THEN 0 ELSE 1 END) AS hit
           FROM prc LEFT JOIN pos p ON prc.cell = p.cell
           GROUP BY doc_id, s
         )
         SELECT doc_id, count(*) AS n_sh, CAST(sum(hit) AS BIGINT) AS n_hit_bloom
         FROM flg GROUP BY doc_id""",
    // corpus_fuzzy_decontam: FULL replay of the cross-corpus MinHash-LSH
    // pass — md5-affine signatures, band membership = signature-slice
    // equality (the xxhash64 bucket key only encodes it), true-Jaccard
    // verify at >= 0.5, then per-train-doc match count + max similarity
    "corpus_fuzzy_decontam" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_distinct([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)])
             END AS sh
           FROM tok
         ), bx AS (
           SELECT doc_id, ('0x' || substring(md5(s), 1, 7))::BIGINT AS x
           FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
         ), perms AS (
           SELECT i, (2654435761 * (i + 1)) % 2147483647 AS a,
                     (40503 * (i + 1) * (i + 1) + 17) % 2147483647 AS b
           FROM generate_series(0, 63) t(i)
         ), sig AS (
           SELECT doc_id, i, min((a * x + b) % 2147483647) AS h
           FROM bx CROSS JOIN perms GROUP BY doc_id, i
         ), bands AS (
           SELECT doc_id, i // 4 AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
           FROM sig GROUP BY doc_id, i // 4
         ), cand AS (
           SELECT DISTINCT a.doc_id AS tid, b.doc_id AS eid
           FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
           WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
         ), jac AS (
           SELECT c.tid, c.eid,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
           FROM cand c JOIN sh sa ON sa.doc_id = c.tid JOIN sh sb ON sb.doc_id = c.eid
         )
         SELECT tid AS doc_id, count(*) AS n_matches,
           floor(max(j) * 1e4 + 0.5) / 1e4 AS max_jaccard
         FROM jac WHERE j >= 0.5 GROUP BY tid""",
    // text_normalize: codepoint lengths around NFC + control-strip; the
    // decomposed accent (chr(769) = U+0301) and BEL are planted in-query
    // so the normalization actually fires on the ASCII fixture
    "text_normalize" ->
      """SELECT doc_id,
           length(text || ' cafe' || chr(769) || chr(7)) AS n_raw,
           length(nfc_normalize(regexp_replace(
             text || ' cafe' || chr(769) || chr(7),
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))) AS n_norm
         FROM documents""",
    // text_top_terms: all-integer ranking (tf desc, df asc, term asc) —
    // no float idf, so the rank order is engine-exact
    "text_top_terms" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), terms AS (
           SELECT doc_id, unnest(t) AS term FROM tok
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM terms
           WHERE NOT list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that'], term)
           GROUP BY 1, 2
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), ranked AS (
           SELECT doc_id, term, tf, df,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tf DESC, df ASC, term ASC) AS INT) AS rank
           FROM tf JOIN dfq USING (term)
         )
         SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3""",
    // text_repetition: pure n-gram occurrence counting — exact in both
    // engines; fractions are single IEEE divisions of <2^53 integers
    "text_repetition" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), grams AS (
           SELECT doc_id, 1 AS n, unnest(t) AS g FROM tok
           UNION ALL
           SELECT doc_id, 2 AS n,
             unnest([array_to_string(t[i:i+1], ' ') for i in generate_series(1, len(t)-1)]) AS g
           FROM tok
           UNION ALL
           SELECT doc_id, 3 AS n,
             unnest([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS g
           FROM tok
         ), per AS (
           SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
         ), agg AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN n = 1 THEN cnt END) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_distinct,
             CAST(max(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS top_bi,
             CAST(sum(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS tot_bi,
             CAST(sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt END) AS BIGINT) AS dup_tri,
             CAST(sum(CASE WHEN n = 3 THEN cnt END) AS BIGINT) AS tot_tri
           FROM per GROUP BY 1
         )
         SELECT doc_id, n_tokens,
           floor(CAST(n_distinct AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS distinct_token_ratio,
           floor(CAST(top_bi AS DOUBLE) / tot_bi * 1e6 + 0.5) / 1e6 AS top_bigram_frac,
           floor(CAST(coalesce(dup_tri, 0) AS DOUBLE) / tot_tri * 1e6 + 0.5) / 1e6 AS dup_trigram_frac
         FROM agg""",
  )
}
