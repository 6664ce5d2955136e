"""Scale-stress harness: prove the §2 plans hold when the data grows.

local[32] correctness runs never pressure the physical plan — sf0.1 fits in a
couple of row groups and every shuffle is trivially small. This tool
synthesizes an N×-multiplied copy of sf0.1 (fact keys offset per copy so key
cardinality — customers, orders, users, documents — scales with the rows,
exactly how real growth looks) and times the headline operators at 1×, 10×,
30×. Near-linear wall-clock growth + unchanged plan shape is the evidence that
the same plans survive a 1000-executor 100 TB deployment: nothing in them is
driver-bound, collect-bound, or quadratic in an unbounded input.

Usage:
    python tools/scale_stress.py [mult ...]     # default: 1 10 30

Writes scaled data under .scratch/ (gitignored) and prints one JSON line per
multiplier; `tools/gen_scale_md.py`-style summary goes to SCALE.md by hand.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.session import build_session
from eviction_lab_etl_spark.sources.loader import TABLES, load

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# Per-table key columns that must grow with the copies so joins stay 1:N and
# group-by cardinality scales (a 30× stress where every copy reuses the same
# keys would measure a skew pathology instead of growth).
OFFSET = 100_000_000
KEYS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # region/nation/part/supplier replicate verbatim (dims stay dims).
}

# Headline operators whose inputs actually scale (bounded ops like
# sim_jaccard_pairs cap their input by doc_id and would measure a constant).
STRESS = [
    "agg_sum_groupby",
    "join_broadcast_dims",
    "window_rank_topk",
    "join_weighted_alloc",
    "reshape_pivot_wide",
    "stream_session",
    "text_tokenize_topn",
    "dedup_exact",
    "split_content_hash",
    "sim_knn_cosine",
    "sim_cosine_neardup_full",
    # Training-set assembly + geo + incremental (round 3): inputs all scale.
    "contam_ngram_overlap",
    "pack_concat_chunks",
    "chunk_sliding",
    "incr_partition_refresh",
    "geo_point_in_region",
    # Round 4: per-part avg self-join (both sides shuffle on l_partkey) and
    # dynamic-gap sessionization (per-user state; users scale with copies).
    "complex_small_qty_revenue",
    "stream_session_dynamic",
    # Round 5: deep dimension fan (Q8), self-referencing scalar aggregate
    # (Q11), first-order transitions (user-keyed window), embedding norm fold
    # (pure map + tiny agg), soft-dedup weights (digest-keyed window).
    "complex_market_share",
    "complex_important_stock",
    "events_type_transitions",
    "embed_norm_hist",
    "resample_downweight_dups",
    # Round-5 late: per-source boilerplate detection (gram-DF shuffle) and
    # RFM segmentation (windows over the user aggregate, not the fact).
    "text_boilerplate_grams",
    "events_rfm_segments",
    # Round 6: hashed-gram contamination knob (same shape as the exact form,
    # narrower shuffle), the default two-phase sessionize path (hot users fan
    # out over buckets), and content-hash export sharding (map + one tiny
    # agg). sim_jaccard_prefix is deliberately ABSENT: the real fixture's
    # 31-token vocabulary has no rarity for the prefix to exploit (SURVEY §8
    # r4 finding), so scaling it here would measure the documented Ω(n²)
    # floor, not the algorithm — measure_jaccard_stress covers the library
    # on a rarity-structured corpus instead.
    "contam_ngram_hashed",
    "stream_session_skewsafe",
    "export_shard_manifest",
    # Round 7: Bloom runtime-filter join (probe is map-side; build scales
    # with suppliers), exact k-means (points scale, centroids stay k — the
    # broadcast-assignment shape), TF-IDF (token shuffle scales, vocabulary
    # constant). join_fuzzy_blocked is deliberately ABSENT: the fixture has
    # 64 distinct names at every multiplier (p_name is not a growing key),
    # so scaling would time a constant; its lossless-blocking property is
    # pinned in tests instead. incr_compact_roundtrip is absent because its
    # cost is one sequential rewrite of the table — linear by construction.
    "join_bloom_pruned",
    "embed_kmeans_iter",
    "text_tfidf_topterms",
    # Round 7 second batch: streaks + EWMA scale with events, BM25 with the
    # document corpus (constant query vocabulary). window_skyline_2d,
    # pipeline_entity_resolution and join_fuzzy_blocked are absent because
    # their only table (part) replicates verbatim — KEYS does not multiply
    # dims, so timing them would time a constant (the fuzzy rule above).
    # io_stats_manifest is a partitioned rewrite — linear by construction.
    "events_streak_islands",
    "ts_ewma_smooth",
    "search_bm25_topk",
    # SCD2 build scales with the event change log (graph_bfs_layers and
    # search_hybrid_rrf cap their universes at doc_id<200 / <500 — constants).
    "incr_scd2_build",
    # constant probe set (doc_id<50) vs the key-multiplied full corpus —
    # the container-side token index is the data-proportional floor.
    "sim_containment_prefix",
    # multimodal_audio_neardup is deliberately ABSENT: the fixture's
    # 10-59-sample LCG clips make band buckets degenerately dense (any
    # fingerprint of a 10-sample clip has <=10 independent bits), so a
    # key-multiplied sweep would time the fixture artifact, not the
    # algorithm — measure_audio_fp_pruning covers the chain on a realistic
    # white-noise corpus instead (the sim_jaccard_prefix precedent).
    # Round 9: PQ encode is the map-only per-row transform (embeddings
    # scale 2k -> 60k), ADC search adds the table-lookup scoring with a
    # constant top-10 output (the TakeOrdered floor), next-fit packing
    # scales the per-shard Arrow greedy with the document corpus.
    # multimodal_video_neardup is ABSENT for the audio rule: the mint's
    # (doc_id*31 + f*101) % 256 pattern family realizes only ~289 distinct
    # frame hashes, so a key-multiplied corpus replays the same hashes and
    # the TRUE match count grows quadratically — output-bound by
    # construction; the banding engine's pruning is measured on realistic
    # data by measure_audio_fp_pruning (same functions/hamming.py chain)
    # and the group-aligned exactness by the brute-force property test.
    # text_dup_span_coverage is ABSENT for the verbatim-copy rule: every
    # multiplied doc gains mult-1 exact copies, so EVERY 8-gram becomes
    # shared and the true output approaches 100% of positions — the
    # sim_cosine_neardup_full artifact class (its one-off 1x/10x
    # measurement and the analysis live in SCALE.md).
    # dedup_semantic's registered binding caps its corpus at vec_id<300
    # (constant) — measure_semantic_pruning covers the pure operator on
    # the SCALED full embeddings instead (--semantic).
    "embed_pq_codes",
    "search_pq_adc_topk",
    "pack_bins_nextfit",
    # text_lm_nll scales cleanly: the bigram stream grows with the corpus,
    # the LM tables stay vocabulary-bounded, and verbatim copies scale
    # every count by mult, leaving the x/y ratios (hence output values)
    # essentially invariant — work linear, output per-doc.
    "text_lm_nll",
    # BPE training: the corpus-sized word count is the floor; the merge
    # iterations run on the (constant-vocabulary) word frame.
    "text_bpe_train",
    # MG heavy hitters: the sketch pass scales with the pair stream, the
    # candidate union stays k x partitions; the exact verdict pass is the
    # same stream aggregated on an 82-key domain.
    "sketch_heavy_hitters",
    # Interval-overlap join: users scale with copies, so per-(type, day)
    # bucket occupancy and the admitted pair set both grow with the data
    # (output-proportional by design; the per-bucket quadratic is the
    # declared cost model).
    "join_interval_overlap",
    # Round 10: the two older gram queries that received the materialize-
    # tokens-before-lambda retrofit (their post-fix slope is the round's
    # regression evidence; the contam pair above covers the other two),
    # BPE encode (broadcast vocab join; corpus-sized word stream), packing
    # on BPE counts (same Arrow greedy, heavier count prep), IVF-PQ (the
    # nprobe scoping must keep the ADC scan sublinear in the corpus), the
    # bloom decontamination gate (map-side bit test + survivor-sized join),
    # CMS (two passes over the pair stream, 192-cell grid merge), and
    # hard-negative mining (BM25 posture with a query dimension).
    # text_dup_span_remove is ABSENT for text_dup_span_coverage's verbatim-
    # copy rule: key-multiplied copies make EVERY span shared, so the sweep
    # would time the output artifact (whole-corpus removal), not the
    # algorithm. dedup_incremental_batch is ABSENT here because its fixture
    # commits snapshot tables per run; its batch-vs-corpus scaling is
    # measured by the dedicated --incremental mode instead.
    "text_ngrams",
    "text_fingerprint",
    "text_bpe_encode",
    "pack_bins_bpe",
    "search_ivfpq_topk",
    "contam_bloom_gate",
    "sketch_countmin",
    "search_hard_negatives",
    # Round 11: asymmetric SQ8 scan (corpus-scaled codes, constant top-k),
    # the map-only normalize chain, and normalized exact dedup (digest
    # shuffle; the messy-twin corpus doubles with the documents table).
    # dedup_incremental_indexed is ABSENT per the dedup_incremental_batch
    # rule (snapshot-commit fixture; --incremental measures the claim);
    # search_sq8_recall shares search_sq8_topk's scored frame.
    "search_sq8_topk",
    "text_normalize_unicode",
    "dedup_exact_normalized",
    # PMI phrase mining: one gram-keyed pair-count shuffle (the
    # text_ngrams floor); marginals stay vocabulary-bounded.
    "text_pmi_collocations",
    # Mergeable quantile summary: per-partition Arrow compactor + one
    # KB-sized merge; the two verification scans are JVM-side.
    "sketch_quantile_mergeable",
    # Round 12: normalize-then-decontaminate ledger — the docstring claims
    # "contam_ngram_overlap twice over" (two per-doc ledger aggregations,
    # one normalized leg + one raw leg); this row measures that claim
    # against the contam_ngram_overlap entry above. The messy/bench split
    # keys on doc_id, which KEYS multiplies, so both legs scale.
    "contam_normalized",
    # Round 12 (second batch): global line dedup (line stream scales; the
    # agg+join form's map-side partial collapse is exactly what the
    # verbatim copies stress — every copy's lines are dups of the
    # original's), the KMV/theta sketch (the corpus-sized scan + partial-
    # distinct is the floor; copies add no NEW grams so the distinct
    # output stays constant — that collapse is the point), near-dup
    # decontamination (corpus-side signature build scales; multiplied
    # copies of bench docs are true J=1 matches, so output grows
    # output-proportionally by design), the trained NB gate (token stream
    # scales, weight table stays vocabulary-bounded, count ratios
    # mult-invariant per the text_lm_nll note), and the two-stage rerank
    # (corpus-scaled code scan, constant candidate stage).
    # search_sq8_rerank_recall is ABSENT: shares the rerank's scored frame.
    "dedup_lines_global",
    "sketch_theta_kmv",
    "contam_neardup",
    "text_quality_classifier",
    "search_sq8_rerank",
    # Surgical decontamination: bench gram set stays broadcast-sized under
    # KEYS multiplication (copy ids land off the %97 residue), the training
    # gram stream scales, covered-position work is hit-proportional.
    # sketch_kmv_partitioned follows sketch_theta_kmv's reading (same
    # distinct floor, window on the collapsed frame); prune_prototypes is
    # ABSENT by the join_fuzzy_blocked rule (the clustered fixture caps at
    # 500+20 vectors — a constant under KEYS multiplication).
    "contam_span_remove",
    "sketch_kmv_partitioned",
    # Round-12 third batch: URL dedup (canonical-key shuffle with map-side
    # collapse — canonical key space is residue-bounded, so copies are pure
    # dup mass, exactly what the partial aggregation must absorb;
    # web_url_canonicalize itself is ABSENT as the map-only floor measured
    # inside this leg), the domain cap (deliberately the hot-key window —
    # hosts stay ~20 under KEYS multiplication while rows grow, measuring
    # the skew the docstring concedes; output stays cap×hosts), OHLC bars
    # ((type, hour)-keyed agg with min_by/max_by partial collapse — events
    # and bar keys both scale), the nucleus cut (token stream scales,
    # count frame vocabulary-bounded — the text_tfidf_topterms class), and
    # the two-phase interleave rank (the skew-safe sequence assignment's
    # whole point is surviving this sweep; counts frame = sources×buckets
    # grows only with the doc_id RANGE). mix_budget_alloc is ABSENT by the
    # ts_seasonal_profile rule (agg_sum_groupby floor + windows on the
    # |langs|·|sources| frame — a sweep would re-time that floor).
    "dedup_url_keep_first",
    "web_domain_cap",
    "ts_resample_ohlc",
    "text_vocab_nucleus",
    "pack_interleave_sources",
    # Round-12 fourth batch: last-touch attribution (user-keyed window over
    # the scaled event stream — users multiply with copies, so per-key state
    # stays constant while keys grow: the skew-free growth axis).
    # search_filtered_topk is ABSENT: its corpus path is a strict subset of
    # sim_knn_cosine's measured floor (1 probe vs 10, label-filtered scan,
    # same TakeOrdered cut) — a sweep would re-time less than that row.
    # agg_median_countframe is ABSENT by the ts_seasonal_profile rule: the
    # (type, cents)-keyed collapse is the agg_sum_groupby floor; the windows
    # run on the value-domain-bounded count frame, constant under scaling.
    "events_attribution_last_touch",
    # Round-12 fifth batch: the web-ingest funnel composition (its URL side
    # collapses in the dedup_url_keep_first exchange measured above, plus a
    # doc-keyed text join that scales with the corpus) and windowed top-k
    # (the (window, type) collapse scales with events; the rank frame stays
    # |windows|·|types|). scalar_url_parts is ABSENT as a map-only scan
    # projection (the web_url_canonicalize rule); io_parquet_bloom_roundtrip
    # is ABSENT because its wall is the fixture's own parquet rewrite —
    # linear by construction (the io_stats_manifest rule).
    "pipeline_web_ingest",
    "stream_tumbling_topk",
    # Round-12 sixth batch: events_top_paths and mix_epoch_plan are ABSENT —
    # the path miner is the attribution/type_transitions shape (user-keyed
    # leads + a |types|³-bounded gram collapse; both axes measured above),
    # and the epoch plan is mix_budget_alloc's group frame plus one map-side
    # division (the ts_seasonal_profile rule).
    # Seventh batch: geo_knn_grid scales with customers — the point side is
    # a broadcast probe + per-point map-side min; included (rather than
    # resting on geo_point_in_region's row) because the 9-way cell
    # replication triples its candidate fan-in per point, a distinct axis
    # worth one measured slope. incr_snapshot_tag_read is ABSENT for the
    # dedup_incremental_batch rule (its wall is the fixture's commits).
    "geo_knn_grid",
    # Eighth batch: sliding distinct scales with events (two exchanges —
    # the (window, user) partial dedup then the window count; users AND
    # windows both grow under KEYS). multimodal_video_keyframes is ABSENT
    # for the multimodal_video_neardup rule: the mint's pixel family
    # realizes a bounded hash universe, so key-multiplied copies replay
    # identical frames and the sweep would time the fixture artifact —
    # the decode walker's linearity is already measured by the audio/video
    # rows and the per-clip work is frames×pixels by construction.
    "stream_sliding_distinct",
    # Ninth batch: search_matryoshka_topk/_recall are ABSENT — the prefix
    # scan is a strict subset of sim_knn_cosine's measured floor (one
    # probe, 16-element folds), and additionally runs on the CLUSTERED
    # fixture whose generator caps at 500+20 vectors (the join_fuzzy rule,
    # same as search_rp_topk).
    # Capstone: the mixture realization scales with documents — two corpus
    # scans (weights, shuffle-ordered prefix cumsum on per-group keys) +
    # broadcast plan; worth one measured slope for the second window pass.
    "resample_epoch_realize",
    # DAU/WAU: the event stream collapses to (day, user) map-side, the ×7
    # expansion runs on the collapsed frame — events AND users scale under
    # KEYS, so both dedup exchanges grow with the data.
    "events_dau_wau",
    # Round 13: exact containment (point side scales with customer; the
    # 25-polygon cell index stays a broadcast constant — the op should be
    # near-linear map time with ZERO shuffle at every multiplier); Gopher
    # rules (pure scan projection over documents); boilerplate strip (line
    # counts + broadcast hot-set probe + doc reassembly — two exchanges,
    # both scaling with the corpus). geo_simplify_sweep / geo_geojson_parse
    # are deliberately ABSENT: their only input is nation, which replicates
    # verbatim (KEYS does not multiply dims) — timing them would time a
    # 25-row constant.
    "geo_point_in_polygon",
    "text_gopher_rules",
    "text_boilerplate_strip",
    # Round 14: PII scrub (pure scan projection over documents — the
    # gopher-rules class, three regex classes per row) and the search-index
    # capstone (customer AND orders scale under KEYS; the geometry side —
    # cell index, centroids, labels — stays a 25-row broadcast constant, so
    # the slope measures the orders join + aggregation the activity column
    # inherently costs). geo_bbox_overlap_pairs / geo_tile_cover /
    # geo_crosswalk_alloc are deliberately ABSENT: nation-only inputs (the
    # geo_simplify_sweep rule — timing a 25-row constant).
    # dedup_minhash_pairs is ABSENT for the verbatim-copy rule
    # (text_dup_span_coverage precedent): every multiplied doc gains mult-1
    # exact copies, all J=1 banding matches, so the sweep would time the
    # output artifact (quadratic true-pair mass), not the banding.
    "text_pii_scrub",
    "geo_search_index",
    # Round 15: the tile-join capstone (customer AND orders scale under
    # KEYS; the pyramid-assignment side stays a 25-shape × 3-zoom broadcast
    # constant, so the slope measures the wide attribute build the tiles
    # inherently cost — the geo_search_index reading) and the session-split
    # transition matrix (one user-keyed window computing BOTH lags — users
    # multiply with copies so per-key state stays constant while keys grow;
    # included rather than resting on events_type_transitions' row because
    # the within-session comparison doubles the lag state per window pass).
    # geo_crosswalk_apportion is deliberately ABSENT: both vintage inputs
    # are nation (the geo_simplify_sweep 25-row-constant rule) and its only
    # fact-side work is the customer count aggregation — the
    # agg_sum_groupby floor; the apportionment windows run on the ≤100-row
    # weight table at every multiplier.
    "geo_tile_join",
    "events_session_transitions",
]


def _neardup_full_corpus(spark, sf_dir):
    """The PURE banded near-dup operator over the FULL (scaled) embeddings
    table — not the registered correctness binding, whose vec_id<300 bound
    would measure a constant under scaling. This is the measurement that puts
    a number on the banded plan's candidate pruning as n grows."""
    from eviction_lab_etl_spark.operators.extensions import cosine_neardup_pairs

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return cosine_neardup_pairs(emb)


EXTRA_QUERIES = {"sim_cosine_neardup_full": _neardup_full_corpus}


def measure_srp_pruning(spark, sf_dir) -> dict[str, int]:
    """Candidate pairs the SRP banding actually scores vs the O(n²) pair
    space it avoided — the pruning-factor evidence at each multiplier."""
    from eviction_lab_etl_spark.functions.srp import srp_candidate_pairs
    from eviction_lab_etl_spark.operators.extensions import (
        _SRP_BANDS,
        _SRP_PLANES,
        _SRP_ROWS,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = emb.count()
    cand = srp_candidate_pairs(
        emb, _SRP_PLANES, _SRP_BANDS, _SRP_ROWS, id_col="vec_id", vec_col="v"
    ).count()
    return {"n_vectors": n, "cand_pairs": cand, "all_pairs": n * (n - 1) // 2}


def measure_audio_fp_pruning(spark, mult: int) -> dict[str, int]:
    """`multimodal_audio_neardup` scale evidence on a REALISTIC clip corpus
    (the fixture's 10–59-sample LCG clips are degenerate for ANY
    fingerprint — see the operator docstring): mult·500 seeded white-noise
    masters of 2 000 samples, each with two planted re-encodings (re-leveled
    ×0.9, which preserves envelope comparisons except ties created by the
    int() truncation — floor(0.9a)==floor(0.9b) when |a−b|≤1 can flip a
    strict-< bit, absorbed by the hd≤6 tolerance — and ±40
    amplitude noise), pushed through the REAL encode→decode→fingerprint→
    banded-join chain. Records band-bucket collisions (multiplicity kept —
    that IS the admitted work) vs the O(n²) pair space, plus
    recall/precision of the planted groups at hd ≤ 6."""
    import random

    from eviction_lab_etl_spark.functions import media_codecs
    from eviction_lab_etl_spark.functions.hamming import (
        _candidate_pairs,
        hamming_near_pairs,
    )
    from eviction_lab_etl_spark.operators.multimodal import (
        _AUDIO_FP_BANDS,
        _AUDIO_FP_MAX_HD,
        _audio_fp_from_payloads,
    )

    n_masters = 500 * mult
    rows = []
    for m in range(n_masters):
        rng = random.Random(m)
        s = [rng.randint(-32768, 32767) for _ in range(2000)]
        relevel = [int(x * 0.9) for x in s]
        noisy = [
            max(-32768, min(32767, x + rng.randint(-40, 40))) for x in s
        ]
        for g, sig in enumerate((s, relevel, noisy)):
            rows.append((3 * m + g, media_codecs.encode_wav(16000, sig)))
    payloads = spark.createDataFrame(rows, "doc_id long, payload binary")
    fp = _audio_fp_from_payloads(payloads).cache()
    n = fp.count()
    cand = _candidate_pairs(
        fp, "doc_id", "hash_hi", "hash_lo", _AUDIO_FP_MAX_HD, _AUDIO_FP_BANDS
    ).count()
    adm = hamming_near_pairs(
        fp, id_col="doc_id", max_hd=_AUDIO_FP_MAX_HD, bands=_AUDIO_FP_BANDS
    )
    admitted = adm.count()
    # planted truth: ids of one master share doc_id div 3
    true_admitted = adm.filter(
        F.expr("a div 3") == F.expr("b div 3")
    ).count()
    fp.unpersist()
    return {
        "n_clips": n,
        "cand_pairs": cand,
        "admitted_pairs": admitted,
        "true_admitted": true_admitted,
        "true_pairs": 3 * n_masters,
        "all_pairs": n * (n - 1) // 2,
    }


def measure_cc_stress(spark, mult: int) -> dict:
    """Connected components on a planted adversarial graph that scales with
    the multiplier: mult*100 disjoint 100-vertex PATHS (diameter 99 each —
    the worst shape per vertex for label propagation). The claim under test:
    large-star/small-star contraction keeps ROUNDS flat (O(log n), ~7) while
    wall-clock grows ~linearly in edges; a propagation loop would need 99
    rounds at every size."""
    from eviction_lab_etl_spark.operators.clustering import _cc_rounds

    n_chains = mult * 100
    edges = (
        spark.range(n_chains)
        .select(
            F.col("id").alias("c"),
            F.explode(F.sequence(F.lit(0), F.lit(98))).alias("i"),
        )
        .select(
            (F.col("c") * 1000 + F.col("i")).alias("a"),
            (F.col("c") * 1000 + F.col("i") + 1).alias("b"),
        )
    )
    start = time.perf_counter()
    labels, rounds = _cc_rounds(edges, 25, None)
    n_comp = labels.select("lbl").distinct().count()
    return {
        "edges": n_chains * 99,
        "rounds": rounds,
        "components": n_comp,
        "sec": round(time.perf_counter() - start, 2),
    }


def measure_prefix_skew(spark, mult: int) -> dict:
    """search_prefix_topk skew evidence. The scaled part corpus replicates
    names with offset keys, so the PREFIX key distribution is unchanged while
    rows per prefix grow mult× — exactly the hot-prefix scenario. Reports the
    naive per-prefix window partition size (what a window without rank-limit
    pushdown would sort in one task) vs the WindowGroupLimit(Partial) bound
    (<= 3 rows per prefix per map partition — what the shipped plan's final
    exchange actually carries), plus the measured query wall-clock."""
    from eviction_lab_etl_spark.operators.pipelines import (
        prefix_candidates,
        search_prefix_topk,
    )

    dst = os.path.join(SCRATCH, f"prefix_x{mult}")
    marker = os.path.join(dst, "_COMPLETE")
    if not os.path.exists(marker):
        df = load(spark, SRC, "part")
        if mult > 1:
            df = df.select(
                "*",
                F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__copy"),
            ).withColumn(
                "p_partkey",
                F.col("p_partkey") + F.col("__copy").cast("long") * F.lit(OFFSET),
            ).drop("__copy")
        df.write.mode("overwrite").parquet(os.path.join(dst, "part.parquet"))
        open(marker, "w").close()

    pref = prefix_candidates(load(spark, dst, "part"))
    naive_max = (
        pref.groupBy("prefix").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    bounded_max = (
        pref.withColumn("pid", F.spark_partition_id())
        .groupBy("prefix")
        .agg((3 * F.countDistinct("pid")).alias("cap"))
        .agg(F.max("cap").alias("m"))
        .collect()[0]
        .m
    )

    def run() -> None:
        search_prefix_topk(spark, dst).write.format("noop").mode("overwrite").save()

    run()
    runs = []
    for _ in range(3):
        start = time.perf_counter()
        run()
        runs.append(time.perf_counter() - start)
    return {
        "naive_max_window_rows": naive_max,
        "grouplimit_max_candidates": bounded_max,
        "sec": round(statistics.median(runs), 4),
    }


def _naive_candidate_bound(tokens) -> int:
    """Candidate-pair mass of the naive all-token inverted index: sum over
    tokens of f*(f-1)/2, computed from the frequency table alone — the pair
    space is never materialized."""
    return int(
        tokens.groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum(
                (F.col("f").cast("decimal(38,0)") * (F.col("f") - 1)) / 2
            ).alias("m")
        )
        .collect()[0]
        .m
    )


def measure_jaccard_stress(spark, mult: int) -> dict:
    """The UNBOUNDED Jaccard path (the registered query's SURVEY doc_id<200
    bound stays in place; this measures the library seam that lifts it).

    Finding recorded at mult=1 against the real documents table: its
    vocabulary is 31 tokens (min frequency ~3.3k of 5k docs), so there IS no
    rarity for a prefix filter to exploit — prefix filtering admits 12.45M
    of the 12.50M possible pairs and the exact join stays
    Omega(n^2) on this corpus no matter the algorithm. That is the
    measured justification for the SURVEY bound, so the scaling run uses a
    deterministic synthetic corpus WITH rarity structure (groups of 5 docs
    sharing 5 group-private tokens over a 31-token common vocabulary — the
    shape real near-dup corpora have, where most tokens are globally rare)
    at near-dup threshold 0.9, where the prefix (|A| - ceil(0.9|A|) + 1 = 3
    rarest tokens) is all group-private: candidates collapse from the
    all-token index's O(n^2) mass to the within-group pairs."""
    from eviction_lab_etl_spark.functions.similarity import (
        jaccard_pairs_prefix,
        prefix_candidate_pairs,
    )

    n_docs = 5000 * mult
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # 15 shared-vocabulary tokens per doc (vocab 31, rotating by group) plus
    # 5 group-private tokens; groups of 5 consecutive doc_ids are exact
    # near-dup cliques (Jaccard 1.0), cross-group Jaccard <= 0.6.
    grp = F.expr("doc_id div 5")
    tokens = docs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.lit(0), F.lit(14)),
                    lambda k: F.concat(F.lit("c"), ((grp * 7 + k) % 31)),
                ),
                F.transform(
                    F.sequence(F.lit(0), F.lit(4)),
                    lambda k: F.concat(F.lit("r"), grp, F.lit("_"), k),
                ),
            )
        ).alias("w"),
    )
    naive_bound = _naive_candidate_bound(tokens)

    def run() -> None:
        jaccard_pairs_prefix(tokens, threshold=(9, 10)).write.format(
            "noop"
        ).mode("overwrite").save()

    run()
    runs = []
    for _ in range(3):
        start = time.perf_counter()
        run()
        runs.append(time.perf_counter() - start)
    cand_pairs = prefix_candidate_pairs(tokens, threshold=(9, 10)).count()
    result_pairs = jaccard_pairs_prefix(tokens, threshold=(9, 10)).count()
    return {
        "n_docs": n_docs,
        "naive_candidate_bound": naive_bound,
        "prefix_candidates": cand_pairs,
        "result_pairs": result_pairs,
        "sec": round(statistics.median(runs), 4),
    }


def measure_semantic_pruning(spark, mult: int) -> dict:
    """SemDeDup candidate pruning at the PRODUCTION posture: k scales with
    the corpus (k = 8·mult here, holding bucket size roughly constant the
    way the paper deploys — the registered dedup_semantic binding pins
    k=8 on its bounded planted-twins universe), so the bucket-scoped
    candidate mass grows ~linearly in n while the global pair space grows
    quadratically. k > 16 dispatches semantic_buckets onto its k-row
    broadcast + window argmin branch (a 3-digit k outgrows the
    one-row-wide codegen fold the bounded binding uses) — the measurement
    exercises the LIBRARY path, not a harness fork. Reports the candidate
    mass (what actually shuffles into the verify), the global pair space,
    and the wall time of the full election (assign → bucket self-join →
    integer-cosine verdict → drop count)."""
    from eviction_lab_etl_spark.operators.embeddings import (
        semantic_buckets,
        semantic_dedup,
    )

    sf_dir = build_scaled(spark, mult)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    k = 8 * mult
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = corpus.count()
    start = time.perf_counter()
    dups = semantic_dedup(corpus, k=k).filter(~F.col("kept")).count()
    wall = time.perf_counter() - start
    x2 = semantic_buckets(corpus, k=k).select(
        "vec_id",
        F.explode(F.transform("buckets", lambda s: s["cid"])).alias("cid"),
    )
    # Candidate MASS = what the bucket self-join admits (sum of per-bucket
    # pair counts over both probe buckets) — arithmetic over group sizes,
    # no pair materialization needed for the count itself.
    sizes = x2.groupBy("cid").agg(F.count(F.lit(1)).alias("c"))
    mass = sizes.select(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long")
    ).collect()[0][0]
    all_pairs = n * (n - 1) // 2
    return {
        "vectors": n,
        "k": k,
        "candidate_mass": int(mass),
        "all_pairs": all_pairs,
        "pruning_x": round(all_pairs / max(int(mass), 1), 1),
        "dup_ids": dups,
        "wall_sec": round(wall, 2),
    }


def measure_minhash_stress(spark, mult: int) -> dict:
    """MinHash-LSH banding (functions/minhash.py) on the same kind of
    rarity-structured synthetic corpus as measure_jaccard_stress — the shape
    where LSH earns its keep (the real fixture's 31-token vocabulary makes
    EVERY background pair Jaccard ≈ 0.9+, so banding there correctly prunes
    nothing; see SURVEY §8).

    Corpus: groups of 5 consecutive doc_ids share 17 group-private tokens;
    each doc adds 1 doc-private token and 2 tokens from a 31-token common
    vocabulary (rotating by group). Within-group Jaccard = 19/21 ≈ 0.905;
    cross-group (same rotation) ≈ 2/38 ≈ 0.053. Banding uses the engine's one
    MinHash family at b=16, r=6 (96 hashes) — steep enough that the 0.05
    background is pruned to ~0 while P[miss | s=0.905] = (1−0.905⁶)¹⁶ ≈
    3·10⁻⁶. Reports the naive all-token candidate mass, the banded candidate
    count, result pairs vs the 2n expected within-group pairs (recall), and
    wall time: candidate growth linear in n on a corpus whose pair space is
    quadratic is the 100 TB evidence."""
    from eviction_lab_etl_spark.functions.minhash import (
        lsh_candidate_pairs,
        minhash_near_dup_pairs,
        minhash_signatures,
    )

    bands, rpb = 16, 6
    n_docs = 5000 * mult
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    grp = F.expr("doc_id div 5")
    tokens = docs.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(F.lit(0), F.lit(16)),
                    lambda k: F.concat(F.lit("p"), grp, F.lit("_"), k),
                ),
                F.array(F.concat(F.lit("d"), F.col("doc_id"))),
                F.transform(
                    F.sequence(F.lit(0), F.lit(1)),
                    lambda k: F.concat(F.lit("c"), ((grp * 7 + k) % 31)),
                ),
            )
        ).alias("w"),
    )
    naive_bound = _naive_candidate_bound(tokens)

    def run() -> None:
        minhash_near_dup_pairs(
            tokens, "doc_id", "w", threshold=(9, 10), bands=bands, rows_per_band=rpb
        ).write.format("noop").mode("overwrite").save()

    run()
    runs = []
    for _ in range(3):
        start = time.perf_counter()
        run()
        runs.append(time.perf_counter() - start)
    sig = minhash_signatures(tokens, "doc_id", "w", bands * rpb)
    cand_pairs = lsh_candidate_pairs(sig, bands, rpb).count()
    result_pairs = minhash_near_dup_pairs(
        tokens, "doc_id", "w", threshold=(9, 10), bands=bands, rows_per_band=rpb
    ).count()
    expected_pairs = 2 * n_docs  # 10 within-group pairs × n/5 groups
    return {
        "n_docs": n_docs,
        "naive_candidate_bound": naive_bound,
        "lsh_candidates": cand_pairs,
        "result_pairs": result_pairs,
        "expected_pairs": expected_pairs,
        "recall_pm": (1000 * result_pairs) // expected_pairs,
        "sec": round(statistics.median(runs), 4),
    }


def measure_incremental_ingest(spark, mult: int) -> dict:
    """The `dedup_incremental_batch` scaling claim measured: a CONSTANT
    SMALL batch (the operator's real contract — 25 near-dup re-crawls +
    a 200-doc fresh slice, ids negated to stay disjoint) admitted against
    a corpus that grows with ``mult``, probed two ways. ``full_sec``
    rebuilds the corpus LSH index inline (what the registered query does —
    its fixture commits both versions per run); ``indexed_sec`` probes
    against a pre-built `corpus_minhash_index` (the commit-time artifact a
    production snapshot table stores). The contract: full grows with the
    corpus (the index IS a corpus pass), indexed pays only
    batch + candidates — its one corpus-sized touch is the candidate-
    scoped verification scan, which never shuffles.

    The batch MUST stay small relative to the corpus: the r10 harness
    used the whole doc_id>=400 tail (4 625 docs vs a 400-doc 1x corpus,
    1.6 M banded candidates on the 31-token fixture vocabulary), which
    made candidate verification — identical in both paths — drown the
    full-vs-indexed split it exists to measure, and put multi-million-row
    frames on the batch-side broadcasts. Candidates still grow with mult
    here ONLY because the key-multiplied corpus replays the same content
    mult times (verbatim copies under new ids) — candidate mass per batch
    doc against DISTINCT corpus content is constant."""
    from eviction_lab_etl_spark.functions.minhash import (
        corpus_minhash_index,
        minhash_batch_matches,
    )

    sf_dir = build_scaled(spark, mult)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter((F.col("doc_id") % OFFSET) < 400)
    base = load(spark, SRC, "documents").select("doc_id", "text")
    batch = (
        base.filter(F.col("doc_id") < 25)
        .select(
            (-(F.col("doc_id") + 1)).alias("doc_id"),
            F.concat("text", F.lit(" rev2")).alias("text"),
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 400) & (F.col("doc_id") < 600)
            ).select((-(F.col("doc_id") + 1)).alias("doc_id"), "text")
        )
    )

    def toks(df):
        return df.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )

    kw = dict(threshold=(9, 10), bands=16, rows_per_band=3)

    def timed(fn) -> float:
        fn()  # warm-up
        runs = []
        for _ in range(3):
            start = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - start)
        return round(statistics.median(runs), 4)

    full_sec = timed(
        lambda: minhash_batch_matches(toks(batch), toks(corpus), **kw)
        .write.format("noop").mode("overwrite").save()
    )
    cb, csz = corpus_minhash_index(toks(corpus), bands=16, rows_per_band=3)
    cb = cb.persist()
    csz = csz.persist()
    n_buckets, n_corpus = cb.count(), csz.count()  # materialize untimed
    indexed_sec = timed(
        lambda: minhash_batch_matches(
            toks(batch), toks(corpus), corpus_index=(cb, csz), **kw
        ).write.format("noop").mode("overwrite").save()
    )
    matches = minhash_batch_matches(
        toks(batch), toks(corpus), corpus_index=(cb, csz), **kw
    )
    n_cand = matches.count()
    n_near = matches.filter(F.col("near") == 1).count()
    cb.unpersist()
    csz.unpersist()
    return {
        "n_corpus": n_corpus,
        "n_batch": batch.count(),
        "index_buckets": n_buckets,
        "candidates": n_cand,
        "near": n_near,
        "full_sec": full_sec,
        "indexed_sec": indexed_sec,
    }


def scaled_dir(mult: int) -> str:
    # source-aware cache key: bench.py builds pairs from whatever
    # SPARK_GRAFT_SF_DIR points at, and an sf0.01-derived x10 must never be
    # mistaken for the sf0.1-derived one
    src_tag = os.path.basename(os.path.normpath(SRC))
    return os.path.join(SCRATCH, f"stress_{src_tag}_x{mult}")


def build_scaled(spark, mult: int) -> str:
    dst = scaled_dir(mult)
    marker = os.path.join(dst, "_COMPLETE")
    if os.path.exists(marker):
        return dst
    for t in TABLES:
        df = load(spark, SRC, t)
        if t in KEYS and mult > 1:
            df = df.select(
                "*",
                F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__copy"),
            )
            for k in KEYS[t]:
                # long arithmetic: copy*OFFSET overflows int32 at copy >= 22
                df = df.withColumn(
                    k, F.col(k) + F.col("__copy").cast("long") * F.lit(OFFSET)
                )
            df = df.drop("__copy")
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
    open(marker, "w").close()
    return dst


def main() -> None:
    args = sys.argv[1:]
    # --cc-prefix: run only the clustering + prefix-skew measurements (the
    # full STRESS sweep is ~10 min at 30x; these two are seconds).
    # --minhash: run only the MinHash-LSH banding measurement.
    # --only=a,b,c: restrict the STRESS sweep to the named queries (partial
    # re-measure after adding entries, without re-timing the whole list).
    extra_only = "--cc-prefix" in args
    minhash_only = "--minhash" in args
    semantic_only = "--semantic" in args
    incremental_only = "--incremental" in args
    only: set[str] | None = None
    for a in args:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
            unknown = only - set(STRESS)
            assert not unknown, f"--only names not in STRESS: {sorted(unknown)}"
            STRESS[:] = [n for n in STRESS if n in only]
    mults = [int(a) for a in args if not a.startswith("--")] or [1, 10, 30]
    registry.load_all_operators()
    spark = build_session(
        app_name="elspark-scale-stress", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    if incremental_only:
        for mult in mults:
            print(
                json.dumps(
                    {
                        "metric": "scale_stress_incremental",
                        "mult": mult,
                        "incremental": measure_incremental_ingest(spark, mult),
                    }
                ),
                flush=True,
            )
        return

    if semantic_only:
        for mult in mults:
            print(
                json.dumps(
                    {
                        "metric": "scale_stress_semantic",
                        "mult": mult,
                        "semantic": measure_semantic_pruning(spark, mult),
                    }
                ),
                flush=True,
            )
        return

    if minhash_only:
        for mult in mults:
            print(
                json.dumps(
                    {
                        "metric": "scale_stress_minhash",
                        "mult": mult,
                        "minhash": measure_minhash_stress(spark, mult),
                    }
                ),
                flush=True,
            )
        return

    if extra_only:
        for mult in mults:
            print(
                json.dumps(
                    {
                        "metric": "scale_stress_cc_prefix",
                        "mult": mult,
                        "cc": measure_cc_stress(spark, mult),
                        "prefix": measure_prefix_skew(spark, mult),
                        "jaccard_unbounded": measure_jaccard_stress(spark, mult),
                    }
                ),
                flush=True,
            )
        return

    for mult in mults:
        sf_dir = build_scaled(spark, mult)
        timings: dict[str, float] = {}
        for name in STRESS:
            fn = EXTRA_QUERIES.get(name) or registry.QUERIES[name]

            # noop sink: executes the full plan distributed, materializes
            # nothing on the driver. collect() would measure single-threaded
            # driver deserialization of multi-million-row results (and OOM it)
            # — exactly what a 100 TB job never does.
            def run() -> None:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

            run()  # warm-up
            runs = []
            for _ in range(3):
                start = time.perf_counter()
                run()
                runs.append(time.perf_counter() - start)
            timings[name] = round(statistics.median(runs), 4)
        print(
            json.dumps(
                {
                    "metric": "scale_stress",
                    "mult": mult,
                    "value": round(sum(timings.values()), 4),
                    "unit": "sec",
                    "queries": timings,
                    "srp_pruning": measure_srp_pruning(spark, sf_dir),
                    "audio_fp_pruning": measure_audio_fp_pruning(spark, mult),
                    "base_sf": SRC,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
