"""The one query-timing harness: pinned EXT sets and ad-hoc runs.

Usage:

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python scripts/bench_sets.py --set ext8
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python scripts/bench_sets.py \\
        NAME [NAME ...] [--plans DIR]

``--set extN`` times one of the pinned sets in ``PINNED_SETS``; query
names time those catalog queries ad hoc (new operators are timed this
way, never by growing a pinned set). ``--plans DIR`` also writes each
query's ``explain("formatted")`` plan to ``DIR/<name>.txt`` and prints
its plan-shape counters, after the timed pass so the cold time stays
cold. One JSON line goes to stdout; progress goes to stderr.

Protocol (shared with ``bench.py``, which calls ``warm_up`` and
``timed_pass``): one session warm-up, then a contention-sentinel
bracketed pass that runs each query cold + 2 in-session reps.
VERDICT r8 item 1: round-over-round comparisons were noise-dominated
when each query ran ONCE per session — a 1.16x total drift appeared
with provably zero code changes (between-session JVM/JIT variance
exceeds the signal of a once-warm run). So ``queries`` stays the cold
first execution (methodology-compatible with earlier rounds),
``queries_median`` is the median of the three samples (robust to a
stalled cold pass and to one lucky rep) and ``queries_warm`` the min
of the two post-cold reps. Cross-round diffs use the medians.

The pinned sets run each query with ``.collect()``, the action every
committed ``EXTBENCH*`` artifact was measured with; ``bench.py`` and
ad-hoc runs use the ``noop`` sink (compute everything, pay no sink).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# metric name → frozen query tuple, one entry per EXTBENCH{N} artifact
# series ("ext1" is the unnumbered EXTBENCH_r*). Never add to or remove
# from a tuple once pinned: a cohort of new operators gets a NEW set.
# tests/test_bench_sets.py checks every tuple against its committed
# artifacts.
PINNED_SETS: dict[str, tuple[str, tuple[str, ...]]] = {
    # Round 6: one representative per EXT family: retrieval (dense,
    # batch, index-free chunking, Hamming, hybrid, eval, MMR, RAG e2e),
    # incremental near-dup probe, tokenizer (train+encode), graph, and
    # the curation flagships (DSIR, cluster balance, main content,
    # length batching, outliers, negatives x2, profile).
    "ext1": (
        "ext_queries_total_sec",
        (
            "ext_bm25_topk",
            "ext_bm25_batch",
            "ext_chunk_overlap",
            "simsearch_hamming_topk",
            "retrieval_hybrid",
            "retrieval_eval_recall",
            "retrieval_mmr",
            "retrieval_pipeline_e2e",
            "dedup_incremental",
            "graph_pagerank",
            "curation_dsir_weights",
            "ext_bpe_train",
            "ext_bpe_encode",
            "curation_cluster_balance",
            "curation_main_content",
            "curation_length_batches",
            "curation_quality_outliers",
            "curation_negative_pairs",
            "simsearch_hard_negatives",
            "ext_table_profile",
        ),
    ),
    # Round 8: one representative per round-7/8 family: graph (profile
    # composition, triangle counting, iterative k-core peel),
    # behavioral/time-series (user profile, sessionization, anomaly
    # consensus, interval coverage, market basket), data-quality audits
    # (table checksum, CDC merge), round-7 dedup (prefix-filter
    # all-pairs, duplicated passages), unigram-LM tokenizer (train +
    # encode), curation diagnostics (source-overlap matrix, bootstrap
    # CI, Heaps fit), retrieval additions (PRF expansion, the round-8
    # sweep-form proximity window), and multimodal scene cuts.
    "ext2": (
        "ext2_queries_total_sec",
        (
            "graph_node_profile",
            "graph_triangles",
            "graph_kcore",
            "behavior_user_profile",
            "w12_sessionization",
            "w28_anomaly_consensus",
            "w24_interval_coverage",
            "behavior_market_basket",
            "quality_table_checksum",
            "quality_cdc_merge",
            "dedup_prefix_allpairs",
            "dedup_dup_passages",
            "ext_unigram_train",
            "ext_unigram_encode",
            "curation_source_overlap",
            "a_bootstrap_ci",
            "ext_heaps_fit",
            "retrieval_prf_expansion",
            "retrieval_proximity_window",
            "mm_scene_cuts",
        ),
    ),
    # Round 9: one representative per round-9 family: the two REAL
    # codec paths + the decoded-PCM VAD and real-pixel downsample,
    # pairwise text evals, experimentation sizing, governance
    # drift/dependence audits, landmark BFS centrality, soft dedup +
    # skyline curation, LM ranking + champion-list and WAND pruning
    # retrieval, decayed counters, RFM, cohort LTV, and path mining.
    "ext3": (
        "ext3_queries_total_sec",
        (
            "mm_png_decode",
            "mm_png_downsample",
            "mm_wav_decode",
            "mm_wav_vad",
            "eval_rouge_bigram",
            "eval_bleu_log",
            "behavior_power_mde",
            "quality_psi_drift",
            "quality_mutual_information",
            "graph_bfs_closeness",
            "curation_soft_dedup",
            "curation_pareto_frontier",
            "retrieval_query_likelihood",
            "retrieval_champion_lists",
            "retrieval_wand_pruning",
            "ext_decayed_counts",
            "behavior_rfm_segments",
            "w34_cohort_ltv",
            "behavior_path_trigrams",
        ),
    ),
    # End of round 10: one row per round-10 operator: the GIF + mu-law
    # codec branches, alignment/combinatorial/char-level evals, the
    # KMV/theta sketch, impact-quantized retrieval, t-closeness EMD
    # governance, the BMP/AVI containers + real-pixel tile dedup + PCM
    # resample + SRT sidecar, Hilbert-vs-Morton layout, overlap depth,
    # the Holt recurrence + its streaming replay, WordPiece encoding,
    # modularity scoring, int8-exact SemDeDup, DID + matched ATT,
    # one-way ANOVA, and hash-randomness random walks.
    "ext4": (
        "ext4_queries_total_sec",
        (
            "mm_gif_decode",
            "mm_wav_mulaw",
            "eval_meteor_frag",
            "eval_pass_at_k",
            "eval_chrf_bigram",
            "ext_kmv_distinct",
            "retrieval_impact_quantized",
            "quality_t_closeness",
            "mm_bmp_decode",
            "mm_png_tile_dedup",
            "mm_png_adam7",
            "mm_png_16bit",
            "mm_audio_resample",
            "mm_avi_decode",
            "mm_srt_parse",
            "layout_hilbert_order",
            "layout_overlap_depth",
            "w35_holt_linear",
            "stream_holt_replay",
            "ext_wordpiece_encode",
            "graph_modularity",
            "graph_random_walks",
            "dedup_semantic_int8",
            "behavior_did",
            "behavior_matched_att",
            "w36_anova_dow",
        ),
    ),
    # Round 11: one row per round-11 operator (the codec quartet:
    # baseline JPEG, IMA ADPCM with its recursive-CTE codec replay,
    # TIFF with PackBits in both byte orders, Motion-JPEG-in-AVI
    # composition) plus the annotation-agreement eval, the seasonal
    # Holt-Winters recurrence, the AMS F2 sketch, the ustar/WARC/zip
    # ingestion-container trio — and the two round-11 REWRITES whose
    # medians the verdict asked to track (METEOR's single-tokenize
    # form, SemDeDup's enforced cluster cap).
    "ext5": (
        "ext5_queries_total_sec",
        (
            "mm_jpeg_decode",
            "mm_wav_adpcm",
            "mm_tiff_decode",
            "mm_avi_mjpeg",
            "eval_cohen_kappa",
            "w37_holt_winters",
            "ext_ams_f2",
            "eval_meteor_frag",
            "dedup_semantic_int8",
            "mm_tar_extract",
            "mm_warc_parse",
            "mm_zip_extract",
            "stream_hw_replay",
            "mm_pdf_text_extract",
        ),
    ),
    # Round 12: one row per round-12 operator: the progressive-JPEG
    # decoder (three real streams per doc: flat progressive + the
    # AC-dense baseline/progressive equivalence pair), the adversarial
    # flate/TJ PDF extraction, Bellman-Ford SSSP on the generic fixpoint
    # loop (early-exit convergence probes included in its time), the
    # U-shaped attribution window chain, FFD compaction packing
    # (grouped-map fold), the gamma=2 quantile sketch, RFC 9309 robots
    # filtering, the WHATWG UTF-8 sanitize pass, sorted-neighborhood
    # dedup and binseg changepoint detection — plus the two round-12
    # WIDENINGS whose medians should be tracked (deflate members in
    # zip, member-gzip WARC).
    "ext6": (
        "ext6_queries_total_sec",
        (
            "mm_jpeg_progressive",
            "mm_pdf_flate_extract",
            "graph_sssp",
            "behavior_attribution_position",
            "layout_compaction_binpack",
            "sketch_quantile_pow2",
            "crawl_robots_filter",
            "mm_zip_extract",
            "mm_warc_parse",
            "curation_utf8_sanitize",
            "dedup_sorted_neighborhood",
            "w38_changepoint_binseg",
        ),
    ),
    # Round 13: first block, the ten r12-optimized query paths
    # (VERDICT r12 item 1's list, so the r12 claims have artifact
    # ground truth); second block, the round-13 targets — the heaviest
    # untouched EXT paths by the r12 pins (quality_t_closeness 5.86 s,
    # mm_png_tile_dedup 4.52 s, mm_bmp_decode 3.39 s, mm_png_adam7
    # 2.99 s, eval_meteor_frag 2.3 s, eval_chrf_bigram 2.57 s,
    # eval_rouge_bigram 2.22 s, retrieval_wand_pruning 1.80 s).
    "ext7": (
        "ext7_queries_total_sec",
        (
            "graph_sssp",
            "graph_bfs_closeness",
            "dedup_semantic_int8",
            "retrieval_impact_quantized",
            "eval_bleu_log",
            "ext_wordpiece_encode",
            "sketch_quantile_pow2",
            "mm_jpeg_decode",
            "mm_jpeg_progressive",
            "mm_avi_mjpeg",
            "quality_t_closeness",
            "mm_png_tile_dedup",
            "mm_bmp_decode",
            "mm_png_adam7",
            "eval_meteor_frag",
            "eval_chrf_bigram",
            "eval_rouge_bigram",
            "retrieval_wand_pruning",
        ),
    ),
    # Round 13: block 1, the heavy paths the round-13 plan sweep found
    # that no earlier set measured (each was running its per-row
    # compute on ONE core and/or doing provably redundant work);
    # block 2, round-13-optimized paths not in ext7's frozen set.
    "ext8": (
        "ext8_queries_total_sec",
        (
            # sweep finds
            "dedup_edit_distance",
            "ext_textrank_keywords",
            "ext_winnow_fingerprints",
            "ext_fingerprint",
            "ext_langid_scores",
            "curation_code_switching",
            "ext_unigram_train",
            "behavior_bradley_terry",
            # round-13 optimized, outside ext7
            "behavior_attribution_position",
            "dedup_clusters",
            "ext_bpe_train",
            "ext_bpe_encode",
            "s1_html_parse",
            "f6_knowledge_parse",
        ),
    ),
}

# ---------------------------------------------------------------------------
# Contention sentinel (VERDICT r10 item 1a). The round-10 BENCH/EXTBENCH
# artifacts were polluted by HOST contention — frozen-since-r1 queries
# slowed 1.3-5.8x with zero code changes — and the evidence had to be
# reconstructed after the fact from three in-session re-runs. The fix:
# before any timed set, run one tiny FROZEN pure-CPU probe (no IO, no
# parquet, no Python workers — spark.range → integer hash filter →
# count, 32 partitions so it occupies every core exactly like a real
# single-wave stage) three times; if its median deviates more than
# 1.25x from the pinned quiet-host value below, the whole artifact is
# stamped "unstable": true so cross-round diffs know to distrust it.
#
# Statistic: MIN of 3 timed runs after 2 untimed JIT warms — a
# contended host cannot produce a FAST sample, so the min is the
# contention-robust envelope, while median/mean inherit the probe's
# intrinsic JVM jitter. Calibration (round 11, ~1% steal, idle host):
# single samples spread 0.44-0.93 s across a fresh session (JIT
# settling), post-warm samples 0.44-0.75 s, min-of-3 0.44-0.49 s —
# so the pin is 0.45 and the budget 1.6x (trip at 0.72 s): intrinsic
# jitter stays under it, while the r10-class contention (frozen
# queries uniformly 1.3-5.8x slower) cannot keep any sample below it.
# Re-pin ONLY alongside a full bench re-pin on a verified-quiet host;
# never because the sentinel keeps tripping — that is the signal
# working.
SENTINEL_PIN_SEC = 0.45
SENTINEL_BUDGET = 1.6


def _sentinel_probe(spark) -> None:
    (
        spark.range(0, 800_000_000, 1, 32)
        .selectExpr(
            "count(if(((id * 2654435761) % 1000003) % 97 = 3, 1, NULL)) AS c"
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def contention_sentinel(spark) -> dict:
    """Frozen CPU probe (2 warms + 3 timed, min) → {'sentinel_sec',
    'sentinel_pin_sec', 'unstable'}; call AFTER session warmup,
    BEFORE the timed set."""
    for _ in range(2):
        _sentinel_probe(spark)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        _sentinel_probe(spark)
        times.append(time.perf_counter() - t0)
    best = min(times)
    return {
        "sentinel_sec": round(best, 4),
        "sentinel_pin_sec": SENTINEL_PIN_SEC,
        "unstable": best > SENTINEL_BUDGET * SENTINEL_PIN_SEC,
    }


def noop(df) -> None:
    """Compute the whole DataFrame and pay no sink."""
    df.write.format("noop").mode("overwrite").save()


def collect(df) -> None:
    """Bring every row to the driver (the pinned EXT sets' action)."""
    df.collect()


def warm_up(spark, sf_dir: str, action) -> None:
    """Warm the JVM + parquet footers and the Python/Arrow workers (one
    per core) so the first timed query is not charged session startup:
    the first pandas-UDF query would otherwise absorb ~2 s of worker
    fork/init."""
    from pyspark.sql.functions import pandas_udf

    from shippai_knowledge_etl_spark.catalog import queries

    action(queries()["a1_status_summary"](spark, sf_dir))

    @pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    par = spark.sparkContext.defaultParallelism
    noop(spark.range(par * 4).repartition(par).select(_warm("id")))


def timed_pass(fns: dict, spark, sf_dir: str, action) -> dict:
    """Time each ``fn(spark, sf_dir)`` cold + 2 reps under ``action``.

    The sentinel is BRACKETED since round 12 (VERDICT r11 item 1b: the
    r11 judge measured identical code at 41.8 s vs 12.1 s medians
    minutes apart with clean START probes — contention windows open
    MID-RUN): one probe before the timed set, one after, and the pass
    is flagged ``unstable`` if EITHER trips. Each job carries a
    ``"<name> rep<i>"`` description so the Spark UI and event log can
    attribute it."""
    pre = contention_sentinel(spark)
    if pre["unstable"]:
        print(
            f"# SENTINEL UNSTABLE: frozen probe {pre['sentinel_sec']}s"
            f" > {SENTINEL_BUDGET}x pin {SENTINEL_PIN_SEC}s — host is"
            " contended; these timings are NOT comparable across rounds",
            file=sys.stderr,
        )
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    best: dict[str, float] = {}
    median: dict[str, float] = {}
    for name, fn in fns.items():
        samples = []
        for i in range(3):
            sc.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            action(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        sc.setJobDescription(None)
        cold, reps = samples[0], samples[1:]
        timings[name] = round(cold, 4)
        # Steady-state latency (codegen + JIT warmed): min of two
        # post-cold runs. A single repeat occasionally lands on a JIT
        # compile-queue stall (all cores busy → C2 starved → the whole
        # single-wave stage runs interpreted, 5-10x slower), which says
        # nothing about the plan; min-of-2 filters that tail.
        warm[name] = round(min(reps), 4)
        best[name] = round(min(samples), 4)
        median[name] = round(sorted(samples)[1], 4)
        print(
            f"# {name}: cold {timings[name]}s median {median[name]}s",
            file=sys.stderr,
        )
    post = contention_sentinel(spark)
    if post["unstable"]:
        print(
            f"# POST-SENTINEL UNSTABLE: {post['sentinel_sec']}s — a"
            " contention window opened DURING the timed set; timings"
            " are NOT comparable across rounds",
            file=sys.stderr,
        )
    return {
        "timings": timings,
        "warm": warm,
        "best": best,
        "median": median,
        "sentinel_pre_sec": pre["sentinel_sec"],
        "sentinel_post_sec": post["sentinel_sec"],
        "sentinel_pin_sec": pre["sentinel_pin_sec"],
        "unstable": pre["unstable"] or post["unstable"],
    }


def set_line(metric: str, res: dict, sf_dir: str) -> dict:
    """The EXTBENCH artifact line for one ``timed_pass`` result."""
    return {
        "metric": metric,
        "value": round(sum(res["timings"].values()), 4),
        "unit": "sec",
        "queries": res["timings"],
        "queries_warm": res["warm"],
        "warm_total_sec": round(sum(res["warm"].values()), 4),
        "queries_median": res["median"],
        "median_total_sec": round(sum(res["median"].values()), 4),
        "sentinel_pre_sec": res["sentinel_pre_sec"],
        "sentinel_post_sec": res["sentinel_post_sec"],
        "sentinel_pin_sec": res["sentinel_pin_sec"],
        "unstable": res["unstable"],
        "sf": sf_dir,
    }


def plan_counters(plan: str) -> dict[str, int]:
    """Plan-shape counts (exchanges, join strategies, Python evals,
    scans) of a formatted plan, so before/after diffs are one grep."""
    out = {}
    for token in (
        "Exchange hashpartitioning",
        "Exchange rangepartitioning",
        "Exchange SinglePartition",
        "BroadcastExchange",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "WholeStageCodegen",
        "Window",
        "Sort ",
        "TakeOrderedAndProject",
        "Scan parquet",
        "Scan ExistingRDD",
    ):
        n = plan.count(token)
        if n:
            out[token.strip()] = n
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--set", choices=sorted(PINNED_SETS), help="pinned set")
    ap.add_argument("names", nargs="*", help="catalog queries, timed ad hoc")
    ap.add_argument("--plans", help="write DIR/<name>.txt formatted plans")
    args = ap.parse_args()
    if bool(args.set) == bool(args.names):
        ap.error("give either --set extN or query names")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory")
    if args.set:
        metric, names = PINNED_SETS[args.set]
        action = collect
    else:
        metric, names, action = "adhoc_queries_total_sec", args.names, noop

    from shippai_knowledge_etl_spark.catalog import queries
    from shippai_knowledge_etl_spark.session import get_spark

    q = queries()
    unknown = [n for n in names if n not in q]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark("bench-sets")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir, action)
    res = timed_pass({n: q[n] for n in names}, spark, sf_dir, action)
    if args.plans:
        pdir = Path(args.plans)
        pdir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = q[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (pdir / f"{name}.txt").write_text(plan)
            print(f"# {name}: {plan_counters(plan)}", file=sys.stderr)
    print(json.dumps(set_line(metric, res, sf_dir)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
