"""BENCH harness (driver contract): headline SURVEY §2 queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {name: sec}, "sf": ...}

Timing protocol (r12 revision of the BASELINE.md protocol): one untimed
warm-up pass over every tracked query in fixed order (plan compile + JIT +
IO cache), then THREE timed passes where each pass visits every query once
in a SEEDED-SHUFFLED order (different permutation per pass, deterministic
seed); a query's reported time is the median of its per-pass runs. Session
startup (~5 s) is excluded, as in BASELINE.md.

Why shuffled passes instead of per-query back-to-back reps (the r1-r11
protocol): two rounds of driver benches produced tpch_power flags that
root-caused to MEASUREMENT POSITION, not queries — BENCH_r10's >2x flags
were the last three of the alphabetically-ordered loop (end-of-run JVM/GC
drift), and the r12 A/B showed the two recurring family-norm flags
(complex_market_share / complex_important_stock) were exactly the two
complex_* queries timed in the HEADLINER loop (mixed-query context) while
their 19 family siblings were timed back-to-back in the tpch loop
(market_share: 2.2-2.7 s interleaved vs 1.1-1.2 s back-to-back in the same
session — BASELINE.md r12 addendum). Shuffled passes give every query the
SAME context distribution, so position and neighbor effects cancel in the
median instead of being normalized after the fact; the family-norm flag
machinery stays as a backstop.

Two-point scaling (round-4 advice item 6): the seven §2 headliners are ALSO
timed at 1x and 10x of the primary SF dir (tools/scale_stress.build_scaled,
cached under .scratch/) to the noop sink at BOTH points — same protocol, so
the per-query growth ratio is a host-noise-free scaling slope taken within
one run (10x sf0.1 = sf1-equivalent row counts). collect() is not used for
the pair because 10x map-only outputs would measure driver deserialization.
Disable with SPARK_GRAFT_TWO_POINT=0; multiplier via SPARK_GRAFT_SCALE_MULT.

This module is also the one home of the bench's tracked table (TRACKED),
regression bases (BASELINE_SEC, TPCH_BASE_SEC), session recipe
(env_session) and timing call (time_once); the tools/ A/B and sweep scripts
import them instead of keeping copies.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.session import build_session

# The tracked set, in measurement order: (name, group, why). "headline" is
# the seven BASELINE.md operators (SURVEY §6); "value" sums exactly these, so
# the total stays comparable to BASELINE.md and to prior rounds. Every other
# group is timed and reported in "queries" for round-over-round tracking but
# NOT folded into "value" (BASELINE.md has no counterpart numbers for them):
# "llm" is the LLM-data-pipeline family, "rNN" the round that first pinned a
# row. A row's first median becomes its regression base for later rounds, as
# the llm four were seeded from r03. The table order is the warm-up order and
# the input of the seeded shuffle, so appending a row changes neither for the
# rows before it.
#
# Deliberately untracked, per the standing rules:
# - a query whose wall is its fixture's snapshot commits or parquet writes
#   (dedup_incremental_batch / _indexed, incr_compact_roundtrip,
#   incr_snapshot_tag_read, io_parquet_bloom_roundtrip); a warm median would
#   time the fixture, and tools/scale_stress.py --incremental measures the
#   operator's real claim;
# - map-only scan riders that are the projection inside a tracked query
#   (web_url_canonicalize, scalar_url_parts, text_gopher_rules,
#   geo_geojson_parse) and fixture-constant universes (sim_containment_pairs,
#   graph_bfs_layers, geo_simplify_sweep);
# - a query that shares a tracked query's frame and adds only K-row or
#   group-frame work (join_fuzzy_blocked, search_sq8_rerank_recall,
#   search_rp_recall, search_matryoshka_recall, mix_budget_alloc,
#   mix_epoch_plan, agg_median_countframe);
# - wide-output queries (dedup_minhash_pairs, sim_jaccard_prefix): collect()
#   of millions of rows times driver deserialization, not the computation;
#   their evidence lives in the noop-sink sweeps and plans/r15/.
TRACKED: list[tuple[str, str, str]] = [
    ("agg_sum_groupby", "headline", "TPC-H Q1-style grouped sums"),
    ("join_broadcast_dims", "headline", "two broadcast dimension joins"),
    ("window_rank_topk", "headline", "pre-aggregated per-nation top-3 window"),
    ("reshape_pivot_wide", "headline", "long-to-wide zero-filled pivot"),
    ("stream_session", "headline", "gap-based sessionization"),
    ("text_tokenize_topn", "headline", "explode, count, ordered top-k"),
    ("sim_knn_cosine", "headline", "brute-force cosine top-k"),
    ("dedup_simhash_pairs", "llm", "banded SimHash near-dup pairs"),
    ("pipeline_corpus_manifest", "llm", "exact dedup then quality gate"),
    ("contam_ngram_overlap", "llm",
     "full-corpus scan (no doc_id bound): the training-assembly family's scale signal"),
    ("pipeline_training_set", "llm",
     "the composed clean→dedup→gate→resample→pack flow as one plan"),
    ("complex_market_share", "r5", "deepest dimension fan (8-table Q8)"),
    ("complex_important_stock", "r5", "self-referencing scalar aggregate (Q11)"),
    ("events_type_transitions", "r5", "user-keyed lag window + matrix agg"),
    ("embed_norm_hist", "r5", "quantize-fold over the embedding column"),
    ("incr_snapshot_time_travel", "r5", "3 ACID commits + 3 versioned reads, end-to-end"),
    ("contam_ngram_hashed", "r6", "hashed-gram contamination knob"),
    ("stream_session_skewsafe", "r6", "the default (two-phase) sessionize path"),
    ("join_skew_salted", "r6", "salted fact-to-profile join (≡ plain join)"),
    ("io_range_partitioned", "r6", "range-clustered write + pruned read-back"),
    ("join_bloom_pruned", "r7", "bloom build + pruned fact scan + exact join"),
    ("embed_kmeans_iter", "r7", "2 Lloyd iterations, broadcast centroids"),
    ("text_tfidf_topterms", "r7", "tf + df + vocab-broadcast ranking"),
    ("pipeline_entity_resolution", "r7", "block->match->CC->canonicalize end-to-end"),
    ("events_streak_islands", "r7", "distinct + islands window + double agg"),
    ("window_skyline_2d", "r7", "banded local sweep + global candidate sweep"),
    ("ts_ewma_smooth", "r7", "8-lag shared-sort window, all-integer"),
    ("search_bm25_topk", "r7", "early-filtered tf + broadcast idf + top-k"),
    ("search_hybrid_rrf", "r7", "BM25 + cosine legs fused by integer RRF"),
    ("search_mmr_diverse", "r7", "unrolled greedy rerank over 20 candidates"),
    ("sim_containment_prefix", "r7", "one-sided prefix containment vs full corpus"),
    ("incr_scd2_build", "r7", "change-log -> SCD2 interval dimension"),
    ("ts_changepoint_shift", "r7", "daily rollup + 4 frame aggs, one sort"),
    ("text_mix_entropy", "r7", "(source,lang) count + window + micro-floor"),
    ("multimodal_audio_neardup", "r9", "r8: banded envelope-fp over real WAV decode"),
    ("embed_pq_codes", "r9", "map-only PQ encoding (1-row codebook BNLJ)"),
    ("search_pq_adc_topk", "r9", "ADC table-lookup scoring + TakeOrdered"),
    ("dedup_semantic", "r9", "bucket-scoped cosine election, nprobe=2"),
    ("pack_bins_nextfit", "r9", "per-shard Arrow greedy, metadata-only"),
    ("multimodal_video_neardup", "r9", "aligned per-frame dHash quorum join"),
    ("text_dup_span_coverage", "r9", "gram-DF shuffle + join-back coverage"),
    ("text_lm_nll", "r9", "integer-bits bigram LM quality gate"),
    ("text_bpe_train", "r9", "corpus word-count + 3 vocab-frame merges"),
    ("sketch_heavy_hitters", "r9", "per-batch MG + containment verdict"),
    ("text_bpe_encode", "r10", "broadcast word->BPE-count join"),
    ("pack_bins_bpe", "r10", "next-fit on trained-BPE counts"),
    ("search_ivfpq_topk", "r10", "nprobe-scoped ADC, zero shuffles"),
    ("dedup_semantic_wide", "r10", "k=24 wide-codebook branch"),
    ("contam_bloom_gate", "r10", "bloom-pruned decontamination"),
    ("text_dup_span_remove", "r10", "keep-first exact-substring removal"),
    ("sketch_countmin", "r10", "per-batch CMS grids + closed-form probe"),
    ("search_hard_negatives", "r10", "multi-query BM25 negative mining"),
    ("search_sq8_topk", "r11", "asymmetric SQ8 scan + TakeOrdered"),
    ("text_normalize_unicode", "r11", "map-only CCNet-style normalize chain"),
    ("dedup_exact_normalized", "r11", "digest shuffle over normalized text"),
    ("text_pmi_collocations", "r11", "one gram shuffle + broadcast marginals"),
    ("sketch_quantile_mergeable", "r11", "Arrow compactor partials + KB merge"),
    ("search_sq8_rerank", "r12", "SQ8 coarse scan + candidate-only rerank"),
    ("dedup_lines_global", "r12", "corpus-wide keep-first line dedup"),
    ("sketch_theta_kmv", "r12", "bottom-K distinct sketch + set algebra"),
    ("contam_neardup", "r12", "asymmetric MinHash decontamination"),
    ("text_quality_classifier", "r12", "NB weight-table broadcast apply"),
    ("ts_seasonal_profile", "r12", "(type, hour) cells + window ratios"),
    ("search_rp_topk", "r12", "16-dim JL literal-fold scan"),
    ("join_asof_nearest", "r12", "union-window nearest temporal match"),
    ("sketch_kmv_partitioned", "r12", "per-source bottom-K rollup + merge"),
    ("contam_span_remove", "r12", "broadcast bench grams, span surgery"),
    ("prune_prototypes", "r12", "argmin assignment + mean-ratio flag"),
    ("dedup_url_keep_first", "r12", "canonical-URL keep-first shuffle"),
    ("web_domain_cap", "r12", "per-host head-of-sequence cap"),
    ("ts_resample_ohlc", "r12", "hourly OHLC bars, agg-only min_by form"),
    ("text_vocab_nucleus", "r12", "top-p vocab cut on the count frame"),
    ("pack_interleave_sources", "r12", "two-phase skew-safe interleave rank"),
    ("search_filtered_topk", "r12", "pushed-predicate exact retrieval"),
    ("events_attribution_last_touch", "r12", "ignore-nulls window attribution"),
    ("pipeline_web_ingest", "r12", "URL funnel -> normalize composition"),
    ("stream_tumbling_topk", "r12", "windowed top-k on collapsed counts"),
    ("events_top_paths", "r12", "3-event path mining, two shared leads"),
    ("geo_knn_grid", "r12", "3x3-cell broadcast probe + argmin encode"),
    ("stream_sliding_distinct", "r12", "exact distinct over sliding windows"),
    ("multimodal_video_keyframes", "r12", "decode + digest + lag keyframe cut"),
    ("search_matryoshka_topk", "r12", "prefix-slice scan, no transform at all"),
    ("resample_epoch_realize", "r12", "mixture plan -> prefix realization"),
    ("events_dau_wau", "r12", "sliding exact distinct via x7 expansion"),
    ("geo_point_in_polygon", "r13", "zero-shuffle broadcast-grid ray cast"),
    ("text_boilerplate_strip", "r13", "line counts + broadcast hot-set strip"),
    ("geo_tile_join", "r15", "tile pyramid × wide attribute build"),
    ("geo_crosswalk_apportion", "r15", "geometry→largest-remainder apportion"),
    ("events_session_transitions", "r15", "sessions+transitions, one exchange"),
    # r15_opt: the bounded-output members of the families the r15
    # optimization rewrote (bitset pair verification + duplicate-group
    # banding, OPTIMIZATION_r15.md).
    ("dedup_minhash_recall", "r15_opt", "banding + exact PPJoin legs, 1-row out"),
    ("search_ivfpq_recall", "r15_opt", "single-pass scoped-recall window"),
    ("search_ivfsq_recall", "r15_opt", "same fold on the SQ8 leg"),
]

# Groups emitted as "<group>_queries" name lists, in this key order. The r15
# groups are tracked but have no key: the JSON shape predates them.
EMITTED_GROUPS = ("llm", "r5", "r6", "r7", "r9", "r10", "r11", "r12", "r13")
GROUPS = ("headline", *EMITTED_GROUPS, "r15", "r15_opt")

# Per-topology regression base for the TPC-H power family: the round-6
# per-query warm medians (SCALE.md "TPC-H power" table, sf0.1, local[32]).
# The 21-query total alone can hide one topology regressing 3x behind noise
# in the others; the emitted per-query "vs_r6" ratio makes each topology its
# own regression row. Same host-noise caveat as BASELINE_SEC: only a ratio
# moving ALONE signals a regression.
TPCH_BASE_SEC = {
    "complex_min_cost_supplier": 1.03,
    "complex_shipping_priority": 0.50,
    "complex_late_priority_orders": 0.56,
    "complex_region_revenue": 0.72,
    "complex_forecast_revenue": 0.25,
    "complex_nation_volume": 0.80,
    "complex_market_share": 0.82,
    "complex_product_profit": 0.79,
    "complex_returned_revenue": 0.61,
    "complex_important_stock": 0.58,
    "complex_returnflag_priority": 0.42,
    "complex_cust_order_histogram": 0.62,
    "complex_promo_revenue": 0.42,
    "complex_top_supplier": 0.34,
    "complex_parts_supplier_cnt": 0.52,
    "complex_small_qty_revenue": 0.50,
    "complex_large_orders": 0.55,
    "complex_disjunctive_revenue": 0.53,
    "complex_excess_share_supplier": 0.87,
    "complex_sole_discount_supplier": 0.82,
    "complex_idle_customers": 0.44,
}

# Per-query comparison bases, reported as "vs_baseline" ratios (<1 = faster).
# §2 seven: BASELINE.md's reference measurements (sf0.1, warm). LLM four:
# pinned from BENCH_r03 — their first measurement — so this family gets the
# same regression tracking the §2 set has had since round 1.
#
# Reading the ratios: this shared host shows fleet-wide 1.2-1.7x slowdowns
# between rounds (BASELINE.md caveat; r03→r04 moved every query together by
# ~1.26x). Only QUERY-SPECIFIC drift — one ratio moving while the others in
# the same run stay put — signals a regression; a uniform shift across all
# eleven is host noise. The emitted "vs_run_median" normalizes each ratio by
# the run's median ratio to make that comparison direct.
BASELINE_SEC = {
    # BASELINE.md (reference engine, same machine/config)
    "agg_sum_groupby": 0.787,
    "join_broadcast_dims": 1.071,
    "window_rank_topk": 1.651,
    "reshape_pivot_wide": 0.262,
    "stream_session": 1.173,
    "text_tokenize_topn": 0.478,
    "sim_knn_cosine": 0.705,
    # BENCH_r03.json (this engine's r03 medians — LLM regression base)
    # dedup_simhash_pairs RE-PINNED r8 (was 0.7904): the r3 number was a
    # fast-tail draw of an overhead-bound bounded query — conf ablation on a
    # fast host (BASELINE.md "dedup_simhash_pairs re-pin") shows AQE
    # replanning is ~0.27 s of its wall, medians range 0.84-1.18 s across
    # sessions, and the r3 value equals today's MINIMUM single run. 1.03 s
    # is the measured median under bench confs; extra reps below tighten it.
    "dedup_simhash_pairs": 1.03,
    # pipeline_corpus_manifest RE-PINNED r14 (was 0.3488): the r3 seed was a
    # fast-tail draw of the same overhead-bound class as dedup_simhash_pairs
    # — its first-ever interleaved A/B (tools/ab.py, 11 reps, companion
    # agg_sum_groupby running BELOW its base at 0.86x, i.e. a genuinely fast
    # host) measured a stable 0.55-0.70 s band, median 0.60 s, with the code
    # unchanged since r12 (BASELINE.md "r14 small-pin A/B"). 0.60 s is the
    # measured median under bench confs; OVERHEAD_REPINNED below keeps it on
    # 7-rep medians (its 0.60 s pin clears the <0.5 s auto-rule, but the
    # query is overhead-bound all the same — r14 ADVICE).
    "pipeline_corpus_manifest": 0.60,
    "contam_ngram_overlap": 1.5371,
    "pipeline_training_set": 1.3102,
    # BENCH_r05.json (r05 medians — the r5 group's regression base, seeded the
    # round after their first measurement, same rule as the LLM four)
    "complex_market_share": 0.8816,
    "complex_important_stock": 0.6136,
    # events_type_transitions RE-PINNED r15 (was 0.3199): three 11-rep
    # interleaved A/Bs spanning a 7x host-speed range measured a STABLE
    # 0.92x paired ratio vs agg_sum_groupby (per-run medians
    # 0.83/0.97/0.89), so the reference-class warm median is
    # 0.92 x 0.787 ~ 0.72 s; the r5 seed was a fast-tail draw of the
    # pre-host-class-split era (BASELINE.md "r15 A/B").
    "events_type_transitions": 0.72,
    "embed_norm_hist": 0.2227,
    # incr_snapshot_time_travel RE-PINNED r14 (was 0.9247): two independent
    # interleaved A/Bs (r11: 1.47x on a fast host; r14: 11 reps, stable
    # 1.16-1.84 s band, median 1.32 s while the compute companion ran at
    # 0.59x its base) agree the honest warm median is ~1.3 s — the r5 seed
    # was a fast-tail draw, and the query's wall is parquet commit/read
    # DISK I/O (3 ACID commits + 3 versioned reads), which does not speed
    # up on an idle CPU the way the compute fleet does, so every fleet
    # normalization inflates it on fast hosts (BASELINE.md "r14 small-pin
    # A/B").
    "incr_snapshot_time_travel": 1.32,
}


# Overhead-bound bounded queries have a wide per-run band (individual
# simhash runs span 0.79-2.08 s on an idle host — BASELINE.md r8), so their
# 3-pass median is itself noisy; such queries get EXTRA shuffled mini-passes
# (7 samples total) after the global passes.
#
# r14 small-pin rule (BASELINE.md "r14 small-pin A/B"): EVERY pinned query
# whose pin is under 0.5 s is in that class by construction — its wall is
# dominated by fixed per-run overhead (planning/AQE/scheduling) whose
# variance is a large fraction of the pin, so a 3-sample median flags on
# sampling error alone (the pipeline_corpus_manifest / dedup_simhash_pairs
# failure mode). All of them get the 7-rep treatment automatically, so new
# small pins can't re-introduce it.
#
# r15 (r14 ADVICE): the magnitude rule alone is not the right key — a query
# RE-PINNED as overhead-bound stays in the class even when its honest median
# lands above 0.5 s (pipeline_corpus_manifest's 0.60 s pin would otherwise
# drop back to 3 samples, the exact failure mode the rule exists to
# prevent). Membership here is "was ever diagnosed overhead-bound by a
# dedicated A/B" (BASELINE.md records), permanent.
OVERHEAD_REPINNED = {"dedup_simhash_pairs", "pipeline_corpus_manifest"}


def group(name: str) -> list[str]:
    """The tracked queries of one group, in table order."""
    return [query for query, grp, _ in TRACKED if grp == name]


def tpch_names() -> list[str]:
    """The TPC-H power family: every registered complex_* topology."""
    return sorted(n for n in registry.QUERIES if n.startswith("complex_"))


def check_tables() -> list[str]:
    """Return the measurement universe, or raise ValueError if the tables
    above disagree with the registry.

    The universe is the tracked table followed by the whole tpch_power
    family, deduplicated: every query is sampled under the same
    shuffled-context protocol (a family member timed in a different loop
    than its siblings gets a different neighbor/position distribution and
    false-flags against them — the r10/r11 lesson). A renamed query would
    otherwise silently orphan its regression row, so the check runs before
    anything is timed. Needs ``registry.load_all_operators()`` first.
    """
    names = [query for query, _, _ in TRACKED]
    tracked = set(names)
    tpch = tpch_names()
    problems = {
        "duplicated tracked names": sorted({n for n in names if names.count(n) > 1}),
        "unknown groups": sorted({g for _, g, _ in TRACKED} - set(GROUPS)),
        "unregistered tracked names": sorted(tracked - set(registry.QUERIES)),
        "TPCH_BASE_SEC keys outside the complex_* family": sorted(
            set(TPCH_BASE_SEC) - set(tpch)
        ),
        "untracked BASELINE_SEC keys": sorted(set(BASELINE_SEC) - tracked),
        "untracked OVERHEAD_REPINNED names": sorted(OVERHEAD_REPINNED - tracked),
    }
    problems = {k: v for k, v in problems.items() if v}
    if problems:
        raise ValueError(f"bench tables disagree with the registry: {problems}")
    return list(dict.fromkeys(names + tpch))


def env_session(app_name: str = "elspark-bench"):
    """The bench's session recipe: ``(spark, sf_dir)`` from
    $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS, with local[cpus] and one
    shuffle partition per core. The regression bases were measured under
    exactly these confs; a 200-partition run against a 32-partition pin
    measures task-scheduling overhead, not the query (BASELINE.md "tpch_power
    A/B")."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name=app_name, master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sf_dir


def time_once(spark, sf_dir: str, name: str) -> float:
    """Wall seconds of one collect() of ``name``, plan building included."""
    fn = registry.QUERIES[name]  # fresh DataFrame: no shuffle-reuse flattery
    start = time.perf_counter()
    fn(spark, sf_dir).collect()
    return time.perf_counter() - start


def main() -> None:
    registry.load_all_operators()
    universe = check_tables()
    headline = group("headline")
    tpch = tpch_names()
    spark, sf_dir = env_session()
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else None

    extra_reps = {n: 7 for n in OVERHEAD_REPINNED}
    extra_reps.update(
        {n: 7 for n, pin in BASELINE_SEC.items() if pin < 0.5}
    )
    n_passes = 3

    rng = random.Random(0x5F12)  # fixed seed: runs are reproducible
    for name in universe:  # warm-up pass, fixed order, untimed
        time_once(spark, sf_dir, name)
    samples: dict[str, list[float]] = {name: [] for name in universe}
    for _ in range(n_passes):
        order = universe[:]
        rng.shuffle(order)
        for name in order:
            samples[name].append(time_once(spark, sf_dir, name))
    max_extra = max(extra_reps.values(), default=n_passes) - n_passes
    for extra_pass in range(max_extra):
        order = [
            n for n in universe
            if extra_reps.get(n, n_passes) > n_passes + extra_pass
        ]
        rng.shuffle(order)
        for name in order:
            samples[name].append(time_once(spark, sf_dir, name))
    timings = {
        name: round(statistics.median(runs), 4)
        for name, runs in samples.items()
    }

    # TPC-H-shape power total: the 21 complex_* topologies — one number for
    # the whole reference-class analytical family, tracked round-over-round
    # next to the per-operator headliners. ~13 s at sf0.1 in r5 (SCALE.md).
    tpch_per_query = {name: timings[name] for name in tpch}
    tpch_total = sum(tpch_per_query.values())
    # Any topology WITHOUT a base is listed so a new one can't dodge
    # tracking forever (stale base keys already raised in check_tables).
    tpch_no_base = sorted(set(tpch) - set(TPCH_BASE_SEC))
    tpch_vs_r6 = {
        name: round(sec / TPCH_BASE_SEC[name], 3)
        for name, sec in tpch_per_query.items()
        if name in TPCH_BASE_SEC
    }
    # Flag against the FAMILY-normalized ratio, not the raw one: the r11 A/B
    # (BASELINE.md "tpch_power A/B") showed the whole multi-join family's
    # vs_r6 shifts 1.2-1.5x with the host's compute/shuffle balance (which
    # the fleet-median normalization, built from compute-bound headliners,
    # cannot see), and BENCH_r10's >2x flags were the sorted loop's LAST
    # THREE queries — positional end-of-run drift. Dividing by the family
    # median cancels both; a genuine topology regression still stands out
    # as moving ALONE. Raw ratios stay emitted for cross-round reading.
    tpch_family_median = statistics.median(tpch_vs_r6.values())
    tpch_vs_family = {
        n: round(r / tpch_family_median, 3) for n, r in tpch_vs_r6.items()
    }
    tpch_flagged = sorted(n for n, r in tpch_vs_family.items() if r > 1.5)

    vs_baseline = {
        name: round(timings[name] / BASELINE_SEC[name], 3)
        for name in timings
        if name in BASELINE_SEC
    }
    # Host-noise-normalized view: each ratio divided by the run's median
    # ratio. A uniform host slowdown cancels out; a genuine per-query
    # regression stands out as vs_run_median >> 1.
    run_median = statistics.median(vs_baseline.values())
    vs_run_median = {
        name: round(ratio / run_median, 3) for name, ratio in vs_baseline.items()
    }
    # Backstop for the family-norm flag's blind spot (r11 ADVICE): dividing
    # each topology by the family median cancels a GENUINE uniform regression
    # of the whole multi-join family (a planner/shuffle change slowing every
    # complex_* together) just as well as it cancels host drift. Cross-check
    # the family median against the fleet's: host drift moves both together
    # (ratio ~1), a family-wide real regression moves the family alone.
    tpch_family_vs_fleet = round(tpch_family_median / run_median, 3)
    tpch_family_flagged = tpch_family_vs_fleet > 1.8

    scale_pair: dict[str, dict] = {}
    scale_mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "10"))
    scale_error = None
    if os.environ.get("SPARK_GRAFT_TWO_POINT", "1") != "0":
        try:
            sys.path.insert(0, os.path.join(REPO_DIR, "tools"))
            import scale_stress

            big_dir = scale_stress.build_scaled(spark, scale_mult)

            def noop_median(fn, d: str) -> float:
                def run() -> None:
                    fn(spark, d).write.format("noop").mode("overwrite").save()

                run()  # warm-up
                runs = []
                for _ in range(3):
                    start = time.perf_counter()
                    run()
                    runs.append(time.perf_counter() - start)
                return round(statistics.median(runs), 4)

            # Label both points by their sf-equivalent (10x sf0.1 = sf1 row
            # counts, built from the SAME fixtures the driver uses), so the
            # growth slope reads directly as an sf0.1 -> sf1 scaling row.
            base_label = f"sf{sf:g}" if sf else "x1"
            big_label = f"sf{sf * scale_mult:g}" if sf else f"x{scale_mult}"
            for name in headline:
                fn = registry.QUERIES[name]
                t1 = noop_median(fn, sf_dir)
                tm = noop_median(fn, big_dir)
                scale_pair[name] = {
                    f"{base_label}_sec": t1,
                    f"{big_label}_sec": tm,
                    # wall-clock growth per data growth; 1.0 = perfectly
                    # amortized, scale_mult = linear, above that = trouble
                    "growth": round(tm / t1, 2),
                }
        except Exception as exc:  # never break the driver's bench contract
            scale_error = f"{type(exc).__name__}: {exc}"
    print(
        json.dumps(
            {
                "metric": "headline_queries_warm_total",
                "value": round(sum(timings[n] for n in headline), 4),
                "unit": "sec",
                "queries": timings,
                **{f"{g}_queries": group(g) for g in EMITTED_GROUPS},
                "tpch_power": {
                    "total_sec": round(tpch_total, 4),
                    "n_queries": len(tpch),
                    "per_query": tpch_per_query,
                    "vs_r6": tpch_vs_r6,
                    "family_median_ratio": round(tpch_family_median, 3),
                    "vs_r6_family_norm": tpch_vs_family,
                    "no_base": tpch_no_base,
                    "flagged_over_1.5x_family_norm": tpch_flagged,
                    "family_vs_fleet": tpch_family_vs_fleet,
                    "family_flagged_over_1.8x_fleet": tpch_family_flagged,
                },
                "vs_baseline": vs_baseline,
                "vs_run_median": vs_run_median,
                "run_median_ratio": round(run_median, 3),
                "scale_mult": scale_mult,
                "scale_pair": scale_pair,
                **({"scale_error": scale_error} if scale_error else {}),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
