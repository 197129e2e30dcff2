"""Query catalog: the driver-facing registry behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers one demonstration
query here (name → callable over ``(spark, sf_dir)``) plus, when the
semantics are ANSI-SQL-expressible, a DuckDB oracle string. The driver
compares Spark vs oracle at sf0.01 (row count + schema + order-insensitive
value hash); ``tests/test_oracle_parity.py`` runs the identical check at
sf0.001 so the gate is exercised locally before every commit.

Conventions (hash-match discipline):
  - alias every computed column identically in Spark and SQL;
  - monetary/num aggregates go through DECIMAL(18,4) on BOTH sides so
    results are order-independent and exact (float sums are neither);
  - any ORDER-dependent output carries an explicit deterministic key;
  - timestamps are handled in UTC (tables.load pins session TZ).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules whose import populates the registry. Order = SURVEY.md §7.2.
_QUERY_MODULES = (
    "shippai_knowledge_etl_spark.queries.manifest",
    "shippai_knowledge_etl_spark.queries.relational",
    "shippai_knowledge_etl_spark.queries.scalar",
    "shippai_knowledge_etl_spark.queries.nested",
    "shippai_knowledge_etl_spark.queries.combined",
    "shippai_knowledge_etl_spark.queries.textops",
    "shippai_knowledge_etl_spark.queries.dedup",
    "shippai_knowledge_etl_spark.queries.sketches",
    "shippai_knowledge_etl_spark.queries.curation",
    "shippai_knowledge_etl_spark.queries.curate_ops",
    "shippai_knowledge_etl_spark.queries.simsearch",
    "shippai_knowledge_etl_spark.queries.retrieval",
    "shippai_knowledge_etl_spark.queries.multimodal",
    "shippai_knowledge_etl_spark.queries.windows",
    "shippai_knowledge_etl_spark.queries.coverage",
    "shippai_knowledge_etl_spark.queries.udfsurface",
    "shippai_knowledge_etl_spark.queries.evals",
)

# The external driver verifies ONLY the first 50 registered queries, in
# registration order. This list IS that window: it pins one green row
# for every SURVEY.md §2 operator family plus every EXT flagship
# (dedup, simsearch, textops, streaming, multimodal, UDF surface,
# end-to-end). Operators whose dedicated demo sits after the window are
# witnessed by an in-window suite noted in its survey_ref (e.g. F1 via
# case_assembly, rollup via cube, O2 via q3's TakeOrderedAndProject,
# distinct-agg via ext_tfidf). load_catalog() fails loudly if a name
# here stops existing.
DRIVER_WINDOW = (
    "a1_status_summary",
    "p10_missing_fields",
    "u2_status_partition",
    "q1_pricing_summary",
    # q3_top_revenue rotated out in round 7 (it remains a PINNED BENCH
    # HEADLINE measured every round and oracle-green in
    # tests/test_oracle_parity.py at both SFs; the global top-k
    # TakeOrderedAndProject family stays witnessed in-window by
    # simsearch_topk_blas and retrieval_hybrid/retrieval_eval_ndcg's
    # ranked cuts); the slot pins the catalog's FIRST raw fact-to-fact
    # shuffle join (orders x lineitem on orderkey, nothing
    # pre-aggregable) — the join class every warehouse bucketing
    # strategy exists to serve, previously driver-unwitnessed;
    # q12_fulfillment_latency then rotated out in round 10 (the raw
    # fact-to-fact shuffle-join class stays witnessed in-window by
    # j6_asof_latest_order — events x orders, both fact-sized, joined
    # on custkey + a non-equi date bound, nothing broadcastable — and
    # q12 stays oracle-green in tests/test_oracle_parity.py); the slot
    # pins PSI
    # population-drift governance — the round-9 drift family (bounded
    # bucket grid + shared-literal ln ratios) had no driver row
    "quality_psi_drift",
    # j1_lookup_join rotated out (broadcast-lookup family stays
    # witnessed in-window by the broadcast membership probes of
    # curation_domain_cap / curation_decontaminate; the multiway
    # broadcast-dim chain itself moved out with j4's round-10 rotation
    # — see the mm_wav_decode slot — and remains a PINNED BENCH
    # HEADLINE + parity-green); the slot pins the new cross-document
    # span-dedup flagship
    # dedup_spans rotated out (the dedup family keeps FOUR in-window
    # witnesses: minhash_verified, ngram_jaccard, clusters, and the
    # e2e pipeline's exact stage; span dedup stays oracle-green in
    # tests/test_oracle_parity.py); the slot pins main-content
    # extraction — a previously unwitnessed family (HTML cleaning:
    # block parse edge + link-density classification + smoothing)
    "curation_main_content",
    # j2_semi_join rotated out (the membership-join family stays
    # witnessed in-window by curation_domain_cap, whose plan IS a
    # broadcast LeftSemi + LeftAnti pair, and by curation_decontaminate's
    # broadcast membership probe); the slot pins the hot-domain-cap
    # curation flagship, previously driver-unwitnessed
    "curation_domain_cap",
    # j4_multiway_region_revenue rotated out in round 10 (VERDICT r9
    # item 2 sanctioned "one of q12/j4": the broadcast-dim join chain
    # stays witnessed in-window by curation_domain_cap /
    # curation_decontaminate's broadcast semi-joins and q1/j6's
    # fact-side plans; j4 itself remains a PINNED BENCH HEADLINE
    # measured every round — the strongest standing witness — and
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pins the round-9 REAL audio-decode flagship: RIFF/WAVE
    # chunk walk + exact PCM16/8 sample unpack, hash-gated by
    # closed-form sample-sum oracles — the image codec path was
    # witnessed (mm_png_decode), the audio path was not;
    # mm_wav_decode then rotated out in round 10 for its strictly-
    # larger successor: mm_audio_resample RUNS the same decode_wav
    # chunk walk and exact sample unpack, then decimates 2:1 per
    # channel with bias-then-floor means — the decode machinery stays
    # driver-witnessed through the larger plan, and mm_wav_decode
    # itself stays oracle-green in tests/test_oracle_parity.py at
    # both SFs (plus the mulaw branch's pytest golden parity);
    # mm_audio_resample then rotated out in round 12 (VERDICT r11
    # item 2 named it: "mm_audio_resample now that codec rows exist"
    # — the attach-payload → narrow-Arrow-decode plan class keeps TWO
    # in-window rows via mm_gif_decode and this slot's successor, and
    # mm_audio_resample itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs, re-pinned at sf0.01 in
    # COHORTS[12], with the audio decode family's full pytest golden
    # coverage in tests/test_multimodal.py); the slot pins the
    # round-11 flagship codec the verdict named first: REAL
    # baseline-DCT JPEG decode, hash-gated by closed-form pixel and
    # position-weighted sums through real Huffman/restart/4:2:0
    # bitstreams — the image family's only lossy codec row
    "mm_jpeg_decode",
    # j5_range_join_buckets rotated out (the non-equi join family stays
    # witnessed in-window by j6_asof_latest_order — the as-of pick IS a
    # range-bounded non-equi join resolved per key — and
    # j5_range_join_buckets itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the MRL
    # truncate-then-rerank funnel — a new two-stage plan family
    # (coarse prefix-cosine cut → broadcast-bounded exact re-rank)
    # with no prior driver row
    "simsearch_mrl_funnel",
    "j6_asof_latest_order",
    # a_cube_status_priority rotated out (the multi-dimensional agg
    # surface stays witnessed in-window by a1_status_summary +
    # a3_manifest_collect, and cube/rollup/grouping-sets all stay
    # oracle-green in tests/test_oracle_parity.py at both SFs);
    # dedup_containment then rotated out in round 7: its single-pass
    # blocked shingle machinery (explode → owner lists → pair counts →
    # carried denominators) is EXACTLY dedup_ngram_jaccard's in-window
    # plan — only the final score divisor differs (min vs union) — and
    # it stays oracle-green in tests/test_oracle_parity.py at both
    # SFs; the slot pins the prefix-filtering all-pairs join — a
    # genuinely different candidate-generation family (global
    # frequency-ordered prefixes + PPJoin length filter + bounded
    # verify) with no prior driver row;
    # dedup_prefix_allpairs then rotated out in round 10 (the blocked
    # shingle-pair candidate machinery stays witnessed in-window by
    # dedup_ngram_jaccard — same explode → owner-list → pair-count
    # spine — and allpairs' prefix/positional filters stay oracle-green
    # in tests/test_oracle_parity.py and SCALEPROBE-measured linear);
    # the slot pins landmark multi-source BFS closeness — the round-9
    # iterative frontier-expansion loop class (per-round join + (seed,
    # node) min, bounded |landmarks|·|nodes| state) had no driver row;
    # graph_bfs_closeness then rotated out in round 12 (VERDICT r11
    # item 2: "three iterative-graph rows is one more than the family
    # needs" — the iterative-loop classes keep TWO in-window rows,
    # graph_kcore's monotone peel and graph_personalized_pagerank's
    # damped propagation, and the per-round bounded-adjacency
    # join-step shape additionally rides graph_random_walks in-window;
    # bfs_closeness itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs, re-pinned at sf0.01 in
    # COHORTS[12]); the slot pins the crawl-ingestion flagship:
    # WARC/1.0 Content-Length framing with the embedded-marker
    # boobytrap, and since round 12 the member-wise .warc.gz path —
    # the Common Crawl arrival format — with n_gz_members pinning the
    # one-record-per-member contract (the ingestion quartet's first
    # driver row; VERDICT r11 item 2 asked for one)
    "mm_warc_parse",
    # w5_cumulative_sum rotated out (W5 stays witnessed in-window by
    # w3_layout_suite's running-position cumsum); dedup_minhash_verified
    # then rotated out in round 8 (VERDICT r7 item 3: it held a driver
    # slot since r5 yet carries NO oracle — the driver row was rows-only,
    # adding no hash signal over the local pytest equivalences that
    # remain: tests/test_dedup.py pins its planted-duplicate recall and
    # its exact-verify stage IS the jaccard verification that
    # dedup_ngram_jaccard keeps hash-gated in-window; the banded
    # candidate-bucket shape stays in-window via dedup_ngram_jaccard's
    # blocked owner-list pair generation — dedup_prefix_allpairs held
    # this witness until its round-10 rotation, see that slot);
    # the slot pins the k-core decomposition flagship — the graph family
    # had only PageRank in-window, and k-core's iterative peel is a
    # genuinely different loop class (monotone deletion to fixpoint vs
    # damped propagation), hash-gated against an unrolled CTE oracle
    "graph_kcore",
    # w7_lead_lag rotated out (the lead/lag window family stays
    # witnessed in-window by w3_layout_suite's partitioned running
    # windows and j6_asof_latest_order's per-key ordered pick;
    # w7_lead_lag itself stays oracle-green in
    # tests/test_oracle_parity.py); the slot pins the batch multi-query
    # BM25 flagship — the batch-retrieval family's first in-window
    # witness (broadcast query fan-out + DECIMAL-exact weight sums +
    # per-query ranking window)
    "ext_bm25_batch",
    # u1_union_worklists rotated out (union family stays witnessed by
    # u2_status_partition + u4_except); simsearch_ivf_kmeans then
    # rotated out in round 8 (VERDICT r7 item 3: rows-only since r5 —
    # float k-means centroids have no exact DuckDB twin, so the driver
    # row carried no hash signal beyond the local pytest recall gate
    # tests/test_simsearch.py keeps; the two-stage coarse-cut→exact-
    # rerank IVF probe SHAPE stays hash-gated in-window by
    # simsearch_mrl_funnel); the slot pins the table-checksum audit —
    # the round-7 data-quality family's FIRST driver row (block-level
    # commutative checksums whose merge order cannot matter, the
    # cross-engine table-equality primitive)
    "quality_table_checksum",
    # u4_except rotated out (the set-op family stays witnessed
    # in-window by u2_status_partition's heterogeneous union;
    # u4_except / u3_intersect / u1_union_worklists all stay
    # oracle-green in tests/test_oracle_parity.py); the slot pinned the
    # ordered-event funnel flagship;
    # w10_funnel_conversion then rotated out in round 11 (VERDICT r10
    # item 3: rotate into the driver-unwitnessed r10 families — the
    # behavioral family keeps THREE in-window rows: behavior_ab_cuped,
    # behavior_markov_stationary, w35_holt_linear, plus behavior_did's
    # new causal row this round; w10's event-time min-agg funnel
    # machinery stays witnessed in-window by stream_session_replay's
    # event-time session rollups, and w10 itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # difference-in-differences 2x2 causal readout — the r10 causal
    # family (DID / matched ATT) had no driver row at all
    "behavior_did",
    # f2_f11_casualty_filename rotated out in round 11 (VERDICT r10
    # item 3 sanctioned "one of f2_f11/f15_f19": the combined
    # scalar-function suite class stays witnessed in-window by
    # f15_f19_p9_geometry — the same multi-function roundtrip shape —
    # F2's leading-int extraction by p1_case_id_extract's
    # regexp_extract surface, and f2_f11 itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # round-10 REAL GIF87a decode — a genuine dictionary-building LZW
    # decompressor walked per image inside a narrow Arrow map,
    # hash-gated by closed-form pixel sums; the image-codec family
    # held only PNG rows before this (VERDICT r10 item 3 named it)
    "mm_gif_decode",
    "f6_knowledge_parse",
    # f7_split_nonblank rotated out (F7 stays witnessed in-window by
    # case_assembly's sources_list split); the slot pinned the
    # Gopher-style repetition-quality flagship;
    # ext_quality_repetition then rotated out in round 11 (VERDICT r10
    # item 3 named it: its family is partly covered in-window by
    # curation_pipeline_e2e, whose quality gate runs the same
    # tokenize + ratio-threshold scoring surface, and
    # ext_quality_repetition itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # int8-exact SemDeDup semantic dedup — the catalog's only
    # HASH-GATED semantic near-dup, now with the cluster-size cap
    # ENFORCED before the quadratic stage and the dropped-cluster
    # count gated as data (VERDICT r10 item 2 executed this round)
    "dedup_semantic_int8",
    # f8_f9_cleanup_url rotated out in round 8 (VERDICT r7 item 4:
    # redundant in-window cousins — F8 nbsp-normalize + F9 URL-regex
    # extraction stay witnessed in-window by p1_case_id_extract's
    # regexp_extract surface and p8_link_fallback's URL construction/
    # resolution; f8_f9_cleanup_url itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the CDC
    # MERGE audit — the round-7 data-quality family's upsert/delete
    # reconciliation (full-outer key align + op classification),
    # previously driver-unwitnessed;
    # quality_cdc_merge then rotated out in round 10 (the governance
    # family keeps THREE in-window rows — quality_psi_drift,
    # quality_table_checksum, quality_conformal_threshold — and
    # cdc_merge stays oracle-green in tests/test_oracle_parity.py at
    # both SFs, its delta-apply algebra additionally exercised by
    # quality_ivm_delta's parity run); the slot pins WordPiece greedy
    # longest-match encoding — the tokenizer family's FIRST driver row
    # (BPE/unigram are rows-only by contract; this one is hash-gated
    # end to end via the md5 piece-sequence fingerprint against a
    # RECURSIVE-CTE oracle, a plan class nothing else in-window has)
    "ext_wordpiece_encode",
    # f13_results_sequence rotated out (F13's regex-extraction family
    # stays witnessed in-window by p1_case_id_extract + f8_f9's URL
    # regex, and A2's max-over-extracted-int by a3_manifest_collect's
    # aggregate surface; f13_results_sequence itself stays oracle-green
    # in tests/test_oracle_parity.py); the slot pinned the
    # scaled-integer PageRank flagship; graph_pagerank then rotated
    # out in round 9 (VERDICT r8 item 2: the damped-propagation
    # machinery stays driver-witnessed by graph_personalized_pagerank
    # — the SAME scaled-integer rounds, contribution joins, and
    # localCheckpoint loop, differing only in where teleport mass
    # returns — and graph_pagerank itself remains a PINNED EXTBENCH
    # timing row plus oracle-green in tests/test_oracle_parity.py at
    # both SFs); the slot pins personalized PageRank — teleport-to-
    # seeds proximity ranking, the r8 family with no driver row
    "graph_personalized_pagerank",
    # f14_f17_label_json rotated out (F14 zero-pad stays witnessed
    # in-window by f2_f11_casualty_filename's filename roundtrip and
    # F17 to_json by the many in-window queries that serialize array
    # output via to_json, e.g. case_assembly/w3_layout_suite);
    # simsearch_hamming_topk then rotated out in round 7: the
    # rank-sensitive nDCG eval CONTAINS the identical sign_pack64 +
    # bit_count(xor) + per-query-top-k probe (plus the exact-cosine
    # ground-truth ranking and the shared-literal discount scoring),
    # so the sign-LSH machinery — including the witness chain that
    # simsearch_near_dup's rotation note routes through hamming_topk —
    # stays driver-witnessed through this strictly-larger plan;
    # simsearch_hamming_topk itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs
    "retrieval_eval_ndcg",
    "f15_f19_p9_geometry",
    # f18_json_extract rotated out (the from_json/map-extraction
    # surface stays witnessed in-window by p3_label_pivot's key-value
    # map pivot and case_assembly's struct serialization;
    # f18_json_extract itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pinned RRF
    # rank fusion; retrieval_rrf_fusion then rotated out in round 9
    # (VERDICT r8 item 2: the bounded global-rank-window + fixed-order
    # fusion-sum machinery stays driver-witnessed by retrieval_hybrid
    # — whose plan fuses the dense-BM25 and cosine rankings with the
    # same rank windows and DECIMAL fixed-order score combination —
    # and by retrieval_eval_ndcg's per-query ranked cuts;
    # retrieval_rrf_fusion itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # Bloom runtime-filter join reduction — sideways information
    # passing (build a 4096-word Bloom over dimension keys, prefilter
    # the fact scan BEFORE its exchange), the r8 family with no driver
    # row, gated against the plain join as oracle
    "j8_bloom_semi_reduction",
    "p1_case_id_extract",
    # p4_p5_text_restructure rotated out in round 8 (VERDICT r7 item 4:
    # redundant in-window cousin — P4 br→newline and P5 paragraph
    # re-segmentation stay witnessed in-window by case_assembly, whose
    # scenario text surface runs the SAME br-normalize + re-segment
    # chain before chunking; p4_p5_text_restructure itself stays
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pins market-basket association mining — support/confidence/
    # lift over co-occurring event types, the behavioral family's
    # self-join-on-bounded-keys class, previously driver-unwitnessed;
    # behavior_market_basket then rotated out in round 9 (the
    # behavioral family keeps FOUR in-window witnesses — w10 funnel,
    # behavior_ab_cuped, behavior_markov_stationary, and the w3
    # suite's running windows [w24 interval coverage was the fourth
    # until its round-10 rotation] — and its bounded-pair self-join
    # class stays
    # in-window via j8's build side and quality_chi2-style grids;
    # market_basket itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # round-9 pairwise text-eval family's flagship — clipped bigram
    # overlap (ROUGE-2) via the single-pass conditional (pair, gram)
    # aggregation, a family with no prior driver row;
    # eval_rouge_bigram then rotated out in round 10 (the eval family
    # keeps a driver row via this slot's successor; the (pair, gram)
    # conditional-aggregation machinery stays witnessed in-window by
    # dedup_ngram_jaccard's gram-keyed counting spine, and rouge —
    # plus eval_bleu_log, which shares its _pair_gram_stats body —
    # stays oracle-green in tests/test_oracle_parity.py at both SFs);
    # the slot pins METEOR with the fragmentation penalty — the
    # alignment-based eval class (occurrence-index equi-join +
    # gaps-and-islands chunk count + integer-exact score), which no
    # in-window query carries
    "eval_meteor_frag",
    # w1_w2_chunk_slice and o1_sort_by_num rotated out (W1/W2/O1 stay
    # witnessed in-window by case_assembly, whose scenario_struct IS
    # the O1 ordinal sort → W2 boundary slice → W1 chunk-by-3
    # composition); the slots pin the two newest curation flagships,
    # previously driver-unwitnessed
    "curation_decontaminate",
    # curation_lm_quality rotated out (the curation family keeps FOUR
    # in-window witnesses: main_content, domain_cap, decontaminate,
    # and pipeline_e2e — whose quality gate exercises the same
    # perplexity-proxy scoring surface; curation_lm_quality itself
    # stays oracle-green in tests/test_oracle_parity.py at both SFs);
    # the slot pinned the mixture-KL data-mix diagnostic;
    # curation_mixture_kl then rotated out in round 9 (VERDICT r8
    # item 2: its bounded per-domain rollup + broadcast 1-row-stats
    # shape stays driver-witnessed by curation_domain_cap's per-domain
    # grid and run_pipeline_e2e's broadcast manifest stats;
    # curation_mixture_kl itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # split-conformal calibration threshold — the model-governance
    # family (k-anonymity / WOE-IV / ECE / conformal) had no driver
    # row; its exact-rank TakeOrderedAndProject selection is a plan
    # class nothing else in-window carried at the time;
    # quality_conformal_threshold then rotated out in round 11
    # (VERDICT r10 item 3: the governance family keeps TWO in-window
    # rows — quality_psi_drift and quality_table_checksum — the
    # exact-rank ranked-cut selection class stays witnessed in-window
    # by retrieval_eval_ndcg's per-query ranked cuts and by
    # q3_top_revenue's PINNED-BENCH TakeOrderedAndProject measured
    # every round, and conformal itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins
    # impact-quantized retrieval — the r10 quantized-index class
    # (round-6→DECIMAL→BIGINT impact buckets, 1-row quantization-bound
    # broadcast) the round-10 verdict listed as hash-gated yet
    # driver-unwitnessed;
    # retrieval_impact_quantized then rotated out in round 12 for the
    # strictly-more-modern member of the SAME quantized-pruning
    # family: retrieval_blockmax_wand carries the identical
    # round-6→DECIMAL→BIGINT impact-bucket discipline at per-block
    # granularity (per-(term,block) maxima ARE quantized bounds) plus
    # the 1-row θ-bound broadcast and survivor filtering that
    # retrieval_wand_pruning keeps in-window; impact_quantized itself
    # stays oracle-green in tests/test_oracle_parity.py at both SFs,
    # re-pinned at sf0.01 in COHORTS[12], and remains an EXTBENCH5
    # timing row; the slot pins Block-Max WAND (Ding & Suel 2011) —
    # the dynamic-pruning family's modern flagship, hash-gated with
    # its block-bound tightening measured as data (VERDICT r11 item 2
    # named it)
    "retrieval_blockmax_wand",
    "w3_layout_suite",
    "scenario_profile",
    "p3_label_pivot",
    # s2_p6_worklist_route rotated out in round 11 (S2's list-page
    # worklist expansion stays witnessed in-window by u5_udtf_expand —
    # the VERDICT r10 core table lists both as S2's driver rows — and
    # P6's URL route predicate by p8_link_fallback's in-window URL
    # construction/resolution surface; s2_p6_worklist_route itself
    # stays oracle-green in tests/test_oracle_parity.py at both SFs);
    # the slot pins hash-randomness DeepWalk corpus generation — the
    # r10 random-walk class (salted-md5 step choice, four bounded
    # adjacency equi-joins, md5 path fingerprints hash-gated) the
    # round-10 verdict listed as driver-unwitnessed
    "graph_random_walks",
    "p7_multimedia_merge",
    "p8_link_fallback",
    # O3's dedicated row-form demo (o3_first_occurrence_dedup) sits just
    # outside the window; O3 stays witnessed in-window by
    # p7_multimedia_merge (P7+J3+O3). The freed slot pins the curation
    # flagship, which composes the whole [EXT] pipeline family.
    "curation_pipeline_e2e",
    "s1_html_parse",
    "case_assembly",
    "p12_conditional_sections",
    "a3_manifest_collect",
    "run_pipeline_e2e",
    # ext_token_counts rotated out (token counting stays witnessed
    # in-window by ext_quality_repetition's tokenize/count columns and
    # the curation pipeline's quality gate; it remains a bench
    # headline); the slot pins the two-stage hybrid retrieval
    # flagship, whose plan contains the full dense-BM25 chain — so
    # ext_bm25_topk is pass-via through it
    "retrieval_hybrid",
    # ext_tfidf rotated out in round 7 (the idf-weighted postings
    # machinery stays witnessed in-window by retrieval_hybrid — whose
    # plan CONTAINS the full dense-BM25 idf/tf weighting chain — and
    # by ext_bm25_batch's postings scoring; ext_tfidf itself stays
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pinned duplicated-passage span detection (Lee et al. 2022);
    # dedup_dup_passages then rotated out in round 9 (VERDICT r8
    # item 2: the dedup family keeps THREE in-window witnesses —
    # dedup_ngram_jaccard carries the positional-shingle explode +
    # gram-keyed counting machinery and its blocked owner-list pair
    # generation [dedup_prefix_allpairs held the candidate-pair
    # witness until its round-10 rotation], and stream_session_replay
    # the gaps-and-islands lag + running-max + island-sum plan class
    # that dup_passages' span assembly uses [w24_interval_coverage
    # held it until its round-10 rotation]; dedup_dup_passages itself
    # stays a PINNED EXTBENCH2 timing row and oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # CUPED variance-reduced A/B readout — the experimentation family
    # (CUPED/Bradley-Terry/Kaplan-Meier) had no driver row
    "behavior_ab_cuped",
    # dedup_exact rotated out (exact dedup stays witnessed in-window by
    # curation_pipeline_e2e, whose first stage IS the sha2 hash-group
    # dedup, and it remains the bench headline); ext_bloom_membership
    # then rotated out in round 7 (the packed-bit-word Bloom build +
    # broadcast probe — salted-md5 geometry, deterministic false
    # positives — stays witnessed in-window by
    # stream_sketch_state_merge's gen-0 filter + gen-1 probe, the SAME
    # bloom_build/bloom_might_contain code path, and
    # ext_bloom_membership itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # streaming-sketch state-merge witness — the last EXT family with
    # no driver row: two generations' HLL registers max-merged
    # hash-gated against the one-shot oracle (merge associativity
    # proven, not just the register math) plus the Bloom fresh-key
    # emission of streaming_new_keys
    "stream_sketch_state_merge",
    "dedup_ngram_jaccard",
    # dedup_clusters rotated out in round 7: cluster-representative
    # selection RUNS the whole clusters path inside it (the same
    # jaccard_pairs candidate generation + connected-components
    # iteration against the same recursive-CTE oracle) and then adds
    # the keep/drop verdict stage (full-universe extension +
    # cluster-partitioned windows), so the component machinery stays
    # driver-witnessed through the strictly-larger plan;
    # dedup_clusters itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs
    "dedup_cluster_representatives",
    # simsearch_topk_blas rotated out in round 8 (VERDICT r7 item 3:
    # rows-only since r5 — float32 BLAS scores have no exact DuckDB
    # twin, so the driver row carried no hash signal; it REMAINS a
    # PINNED BENCH HEADLINE measured every round, and the pytest id-set
    # equality against the HOF exact form — whose full DuckDB oracle
    # stays green in tests/test_oracle_parity.py — keeps it witnessed);
    # the slot pins interval-coverage merging — the behavioral/time-
    # series round-7 family's gaps-and-islands union of overlapping
    # intervals, a plan class (ordered lag + running max + island sum)
    # with no prior driver row;
    # w24_interval_coverage then rotated out in round 10 (VERDICT r9
    # item 2 named it: the gaps-and-islands machinery stays witnessed
    # in-window by stream_session_replay's lag+cumsum stitch stage and
    # partly by w10's event-time rollups; w24 stays oracle-green in
    # tests/test_oracle_parity.py at both SFs); the slot pins the
    # Markov stationary distribution — the round-9 behavioral chain's
    # scaled-integer power-iteration fixpoint on the bounded |types|²
    # transition grid, a loop class with no prior driver row;
    # behavior_markov_stationary then rotated out in round 12
    # (VERDICT r11 item 2: rotate into the driver-unwitnessed r11
    # families — the scaled-integer power-iteration fixpoint class
    # stays witnessed in-window by graph_personalized_pagerank, the
    # SAME damped scaled-integer iteration with contribution joins on
    # a bounded grid, and markov_stationary itself stays oracle-green
    # in tests/test_oracle_parity.py at both SFs, re-pinned at sf0.01
    # in COHORTS[12]); the slot pins Benjamini-Hochberg FDR — the
    # multiple-testing governance class (step-up cut as a 1-row
    # frontier broadcast over the metric battery) the round-11
    # verdict listed as hash-gated yet driver-unwitnessed
    "behavior_fdr_bh",
    # simsearch_near_dup rotated out (the sign-LSH signature machinery
    # stays witnessed in-window by simsearch_hamming_topk — same packed
    # 64-bit signs + bit_count(xor) — and the bucketed-candidate
    # near-dup shape by dedup_minhash_verified / dedup_ngram_jaccard;
    # simsearch_near_dup itself stays oracle-green in
    # tests/test_oracle_parity.py); the slot pins the index-at-rest
    # retrieval flagship — the streaming-index family's first driver
    # row (merge → compact → BM25 answered from stored postings,
    # gated against the full-corpus oracle);
    # retrieval_bm25_from_index then rotated out in round 10 (the
    # postings-at-rest scoring machinery stays witnessed in-window by
    # ext_bm25_batch — the same term-filtered postings + pivot-score
    # spine — and from_index stays oracle-green in
    # tests/test_oracle_parity.py at both SFs, with its index
    # merge/compact machinery additionally pinned by
    # tests/test_retrieval_index.py); the slot pins WAND upper-bound
    # pruning — a
    # genuinely new plan class (champion-list θ estimate + round-6
    # DECIMAL bound filter ahead of exhaustive scoring, survivor
    # counts gated as data) the round-9 verdict flagged unwitnessed
    "retrieval_wand_pruning",
    # stream_tumbling_window rotated out in round 7 (the event-time
    # aggregation family stays witnessed in-window by
    # w10_funnel_conversion's user-keyed event-time min-aggs, and
    # tumbling remains a PINNED BENCH HEADLINE run every round plus
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pinned gap-based sessionization; w12_sessionization then
    # rotated out in round 9 (VERDICT r8 item 2: its lag + running
    # session counter + per-session rollup machinery stays
    # driver-witnessed by stream_session_replay, which RUNS the
    # session-window operator per generation AND the same lag+cumsum
    # gaps-and-islands form as its stitch stage — a strictly-larger
    # plan; w12 also stays a PINNED EXTBENCH2 timing row and
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pins the streaming session-state replay witness — the
    # streaming-state-merge family's first session-window driver row
    # (per-generation partial sessions stitched by the state-store
    # merge rule, hash-gated against the one-shot oracle)
    "stream_session_replay",
    # mm_image_features rotated out in round 9 (the S4 multimodal
    # mapInPandas plumbing stays witnessed in-window by mm_png_decode —
    # the SAME attach-payload → Arrow-batched decode-features plan
    # class, now with a REAL pure-stdlib codec inside instead of the
    # deterministic byte-length fake; mm_image_features itself stays
    # oracle-green in tests/test_oracle_parity.py at both SFs and
    # driver-parity-tested there); the slot pins the round-9 real
    # image-decode flagship: encode-then-decode PNGs through all five
    # RFC 2083 scanline filters, pixel sums hash-gated in closed form;
    # mm_png_decode then rotated out in round 10 for its strictly-
    # larger successor: mm_png_tile_dedup decodes the SAME payloads
    # through the same codec, gates every reconstructed scanline byte
    # through 4-row band sums (one wrong byte breaks a signature), and
    # adds the signature-keyed dedup shuffle + star-pair window on
    # top; mm_png_decode itself stays oracle-green in
    # tests/test_oracle_parity.py at both SFs (plus the pixel-exact
    # filter-by-filter pytest coverage in tests/test_multimodal.py)
    "mm_png_tile_dedup",
    "u5_udtf_expand",
    # p13_grouped_map_seq rotated out in round 10 (the applyInPandas
    # grouped-map surface stays driver-witnessed by w35_holt_linear —
    # the same mechanism carrying a much stronger gate: an exact
    # scaled-integer recurrence checked against a DuckDB RECURSIVE-CTE
    # oracle rather than a per-group sequence label; p13 stays
    # oracle-green in tests/test_oracle_parity.py at both SFs); the
    # slot pins Holt linear-trend smoothing — the round-10 sequential-
    # recurrence class with no prior driver row;
    # w35_holt_linear then rotated out in round 12 for its strictly-
    # larger successor (the mm_wav_decode → mm_audio_resample
    # precedent): w37_holt_winters RUNS the same per-key grouped-map
    # applyInPandas mechanism — the surface p13's rotation routed
    # through w35 — carrying the same level+trend recurrence PLUS the
    # 7-slot seasonal state vector, checked against a DuckDB
    # RECURSIVE-CTE oracle exactly as w35 was; w35_holt_linear itself
    # stays oracle-green in
    # tests/test_oracle_parity.py at both SFs, re-pinned at sf0.01 in
    # COHORTS[12], and its streaming replay witness stream_holt_replay
    # keeps the state-carry contract pytest+oracle-pinned
    "w37_holt_winters",
)


# sf0.01 parity cohorts (VERDICT r9 item 1, widened r11 per VERDICT
# r10 item 5): every query ADDED in a round, or whose Spark/oracle
# algebra CHANGED in that round, is listed under that round number and
# gets a COMMITTED sf0.01 oracle-parity run
# (tests/test_oracle_parity.py::test_oracle_parity_round_cohort) — the
# eval_bleu_log ulp-straddle class only surfaces above sf0.001, and
# before round 10 only the 50 window queries were pinned at sf0.01.
# Registration order is not chronological (load_catalog groups by
# module), so cohorts are explicit names, not index watermarks.
# The test parametrizes over the LAST TWO rounds' cohorts (bounded
# runtime; older cohorts keep sf0.001 coverage via test_oracle_parity
# plus whatever window slots they hold) — so the straddle-sensitive
# class never loses sf0.01 coverage the round after it ships (the r10
# blind spot: a single current-round cohort reset each round). When a
# round closes, ADD a new entry; never delete old ones (they're ~free
# documentation and the two-round window is computed from the keys).
COHORTS: dict[int, tuple[str, ...]] = {}

COHORTS[10] = (
    # r10 algebra changes (round-9 ADVICE):
    "retrieval_wand_pruning",  # DECIMAL ub_sum + ε-widened survivor filter
    "behavior_power_mde",  # H1 term pow(x,2) → x*x on both engines
    "eval_bleu_log",  # body extracted to _bleu_log_frame (test hook)
    # r10 demo-graph sizing moved caller-side (operators action-free):
    "graph_personalized_pagerank",
    "graph_negative_edges",
    "graph_bfs_closeness",
    # r10 new operators:
    "mm_gif_decode",  # real LZW GIF codec (VERDICT r9 item 8 stretch)
    "mm_wav_mulaw",  # G.711 mu-law compand/expand branch
    "eval_meteor_frag",  # occurrence-aligned METEOR + chunk penalty
    "eval_pass_at_k",  # exact combinatorial pass@k estimator
    "ext_kmv_distinct",  # KMV/theta distinct sketch + union merge
    "retrieval_impact_quantized",  # 64-level integer impact buckets
    "quality_t_closeness",  # ordered-bucket EMD vs global distribution
    "mm_bmp_decode",  # real BMP codec: BI_RGB + RLE8 decompression
    "mm_png_tile_dedup",  # pixel-level dedup via decoded band sums
    "mm_audio_resample",  # 2:1 boxcar decimation on real PCM
    "layout_hilbert_order",  # unrolled Hilbert vs Z-order locality
    "w35_holt_linear",  # integer Holt recurrence vs recursive CTE
    "ext_wordpiece_encode",  # greedy longest-match vs recursive CTE
    "graph_modularity",  # exact-integer Newman Q decomposition
    "eval_chrf_bigram",  # char-bigram chrF2, single-division form
    "dedup_semantic_int8",  # SemDeDup pairs, pure-integer cosine gate
    "behavior_did",  # difference-in-differences 2x2, gated estimate
    "mm_avi_decode",  # real RIFF/AVI video container walk + frames
    "w36_anova_dow",  # one-way ANOVA, round-then-DECIMAL SS assembly
    "layout_overlap_depth",  # zone-map +1/-1 sweep read amplification
    "mm_srt_parse",  # declarative SubRip cue parsing, integer gates
    "behavior_matched_att",  # stratified-matching ATT, common support
    "stream_holt_replay",  # two-generation state carry == one-shot
    "graph_random_walks",  # hash-randomness DeepWalk sampling, gated
    "mm_png_adam7",  # Adam7 interlaced decode, same closed-form gate
    "mm_png_16bit",  # 16-bit depth decode, bpp=6 filters, BE samples
)

COHORTS[11] = (
    # r11 algebra changes (round-10 verdict/ADVICE):
    "dedup_semantic_int8",  # +100000 offset, ENFORCED cluster cap 300
    "eval_meteor_frag",  # single tokenize pass (checkpointed explode)
    # r11 demo-graph sizing moved to parquet-footer rowcount memo
    # (tables.table_rowcount — zero Spark jobs; values identical):
    "graph_pagerank",
    "graph_anchor_text",
    "graph_label_propagation",
    "graph_hits",
    "graph_triangles",
    "graph_kcore",
    "graph_assortativity",
    "graph_negative_edges",
    "graph_node_profile",
    "graph_link_prediction",
    "graph_personalized_pagerank",
    "graph_bfs_closeness",
    "graph_modularity",
    "graph_random_walks",
    "ext_heaps_fit",
    "behavior_bradley_terry",
    # r11 new operators:
    "mm_jpeg_decode",  # real baseline-DCT JPEG (VERDICT r10 item 7)
    "mm_wav_adpcm",  # IMA ADPCM decode, recursive-CTE codec replay
    "mm_tiff_decode",  # TIFF IFD walk + PackBits, both byte orders
    "mm_avi_mjpeg",  # Motion-JPEG AVI: container + codec composed
    "eval_cohen_kappa",  # inter-annotator agreement, integer-exact
    "w37_holt_winters",  # seasonal smoothing, 7-slot CTE state vector
    "ext_ams_f2",  # AMS tug-of-war F2 sketch, median-of-means
    "mm_tar_extract",  # ustar unpack, checksum-verified headers
    "mm_warc_parse",  # WARC/1.0 Content-Length framing, boobytrapped
    "mm_zip_extract",  # zip walk + CRC-32 replayed as recursive CTE
    "stream_hw_replay",  # HW vector-state carry == one-shot CTE
    "mm_pdf_text_extract",  # PDF text extraction, closes the S6 loop
    "retrieval_maxscore_pruning",  # per-list essential-term skipping
    "behavior_sprt",  # Wald sequential test, constant-LLR cumsum
    "mm_wav_alaw",  # G.711 A-law branch, audioop-verified full range
    "retrieval_blockmax_wand",  # per-block maxima, tighter than UB
    "behavior_fdr_bh",  # BH step-up over the metric battery
)

COHORTS[12] = (
    # r12 new operators:
    "mm_jpeg_progressive",  # SOF2 decode (VERDICT r11 item 3)
    "mm_pdf_flate_extract",  # adversarial flate/TJ PDFs (item 5)
    "graph_sssp",  # Bellman-Ford on the generic fixpoint loop (item 8)
    "behavior_attribution_position",  # U-shaped multi-touch credit
    "layout_compaction_binpack",  # FFD packing vs list-state CTE
    "sketch_quantile_pow2",  # gamma=2 DDSketch, integer bit-length
    "crawl_robots_filter",  # RFC 9309 longest-match allow/deny
    "curation_utf8_sanitize",  # WHATWG maximal-subpart FFFD audit
    "dedup_sorted_neighborhood",  # SNM window pairing + exact verify
    "w38_changepoint_binseg",  # exact-integer binseg level shift
    # r12 loop refactor: every iterative operator now runs on
    # operators/fixpoint.py:iterate — results must be bit-identical
    "graph_pagerank",
    "graph_kcore",
    "graph_personalized_pagerank",
    "graph_label_propagation",
    "graph_hits",
    "dedup_clusters",
    "dedup_cluster_representatives",
    # r12 algebra changes (VERDICT r11 item 4):
    "mm_zip_extract",  # deflate members + n_deflated column
    "mm_warc_parse",  # member-wise .warc.gz + n_gz_members column
    # r12 window rotations: every rotated-OUT query keeps two rounds
    # of sf0.01 pinning here so leaving the window never drops a
    # scale level in the same round
    "graph_bfs_closeness",
    "mm_audio_resample",
    "retrieval_impact_quantized",
    "behavior_markov_stationary",
    "w35_holt_linear",
)

COHORTS[13] = (
    # r13 optimization round 2: every touched query path stays sf0.01-
    # pinned (VERDICT r12 item 10's ratchet). JPEG codec internals
    # (record/replay encoder, event-driven AC scans, batched IDCT —
    # byte-identical payloads proven in tests):
    "mm_jpeg_decode",
    "mm_jpeg_progressive",
    "mm_avi_mjpeg",
    # sentinel-gram pair presence (the _pairs scan+join removal):
    "eval_rouge_bigram",
    "eval_bleu_log",
    "eval_chrf_bigram",
    # pre-partitioned edge persist in shortest_paths:
    "graph_sssp",
    # round-13 session 2: HOF let-binding + scale_out (winnow /
    # rolling fingerprints), METEOR sentinel pair presence, frontier
    # connected components, single-pass U-shaped attribution
    "ext_winnow_fingerprints",
    "ext_fingerprint",
    "eval_meteor_frag",
    "behavior_attribution_position",
    "dedup_clusters",
    # batch 3: heaviest-query fixes found by the zero-exchange sweep
    "dedup_edit_distance",
    "ext_textrank_keywords",
    "ext_langid_scores",
    "curation_code_switching",
    # batch 4: full-catalog timing sweep finds (near-dup cosine norms,
    # per-partition merge_asof, minhash barriers)
    "simsearch_near_dup",
    "simsearch_near_dup_lsh",
    "simsearch_align_bitext",
    "j6_asof_merge_scale",
    "dedup_semantic",
    "dedup_minhash_verified",
)

# the sf0.01-pinned parity set: the last two rounds' cohorts
COHORT_SF001_PINNED: tuple[str, ...] = tuple(
    dict.fromkeys(
        n
        for r in sorted(COHORTS)[-2:]
        for n in COHORTS[r]
    )
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    survey_ref: str = ""  # SURVEY.md §2 operator ids this demonstrates
    bench: bool = False  # include in bench.py headline set


def register(
    name: str,
    oracle: str | None = None,
    survey_ref: str = "",
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, survey_ref, bench)
        return fn

    return deco


def load_catalog() -> dict[str, QuerySpec]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    ordered: dict[str, QuerySpec] = {}
    for name in DRIVER_WINDOW:
        ordered[name] = _REGISTRY[name]  # KeyError = window names a ghost
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_catalog().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in load_catalog().items()
        if spec.oracle is not None
    }


def bench_queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in load_catalog().items() if s.bench}
