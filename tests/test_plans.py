"""Physical-plan regression tests (SURVEY §4): every scale property we rely on
— pushdown, pruning, broadcast join selection, JVM-side expressions — is
asserted against the formatted plan, so a refactor that silently de-optimizes
a query (drops a pushed filter, widens a scan, un-broadcasts a dim join,
drags a fold into Python) fails CI before it ships to a 1000-executor cluster.
"""

from __future__ import annotations

import pytest

from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.plans.audit import audit_plan


def plan_of(spark, sf_dir, name):
    return audit_plan(registry.QUERIES[name](spark, sf_dir))


def test_filter_and_columns_pushed_to_scan(spark, sf_dir):
    info = plan_of(spark, sf_dir, "scan_filter_prune")
    # The date predicate must reach the parquet reader, not run post-scan.
    assert any("o_orderdate" in p for p in info["pushed_filters"]), info["pushed_filters"]
    # Column pruning: the scan reads exactly the 3 projected columns.
    assert info["read_schema"], "no ReadSchema in plan"
    schema = info["read_schema"][0]
    assert "o_orderkey" in schema and "o_custkey" in schema and "o_orderdate" in schema
    assert "o_totalprice" not in schema and "o_comment" not in schema


def test_scan_project_prunes_unused_columns(spark, sf_dir):
    info = plan_of(spark, sf_dir, "scan_project")
    schema = info["read_schema"][0]
    # 16-column lineitem scanned for exactly the 4 projected source columns.
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"):
        assert col in schema, f"{col} missing from ReadSchema"
    assert "l_comment" not in schema and "l_shipdate" not in schema


@pytest.mark.parametrize(
    "name,min_bcast",
    [
        ("join_broadcast_dims", 2),  # nation + region must broadcast
        ("pipeline_rankings", 2),
        ("pipeline_search_index", 2),
        ("sim_knn_cosine", 1),  # probe set broadcasts; corpus streams once
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name, min_bcast):
    info = plan_of(spark, sf_dir, name)
    info["broadcast_joins"] += info["broadcast_nl_joins"]
    assert info["broadcast_joins"] >= min_bcast, (
        f"{name}: expected >= {min_bcast} broadcast joins, plan has "
        f"{info['broadcast_joins']} (sort-merge: {info['sortmerge_joins']})"
    )


def test_single_shuffle_aggregations(spark, sf_dir):
    # Partial+final hash aggregation: exactly one exchange, no more.
    for name in ("agg_sum_groupby", "reshape_pivot_wide", "text_lang_stats"):
        info = plan_of(spark, sf_dir, name)
        assert info["shuffles"] == 1, f"{name}: {info['shuffles']} shuffles"


def test_complex_join_trees_stay_single_shuffle(spark, sf_dir):
    # Multi-join analytical queries: every dim side broadcasts, the fact scan
    # shuffles exactly once (for the aggregation); top-k is TakeOrdered, not a
    # global sort-exchange.
    for name, min_bcast in (
        ("complex_shipping_priority", 2),
        ("complex_region_revenue", 3),
        ("complex_returned_revenue", 3),
    ):
        info = plan_of(spark, sf_dir, name)
        bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
        assert bcast >= min_bcast, f"{name}: only {bcast} broadcast joins"
        assert info["shuffles"] <= 1, f"{name}: {info['shuffles']} shuffles"
        # Filters on the fact reach the scan despite the join tree above them.
        assert info["pushed_filters"], f"{name}: nothing pushed to the scan"


def test_flagship_query_is_whole_stage_codegen(spark, sf_dir):
    # Codegen ids only exist on the final adaptive plan → execute first.
    info = audit_plan(registry.QUERIES["agg_sum_groupby"](spark, sf_dir), execute=True)
    assert info["codegen_stages"] >= 1, "flagship aggregate not codegen'd"
    assert "isFinalPlan=true" in info["plan"]


def test_no_python_in_jvm_hot_paths(spark, sf_dir):
    # These must stay whole-stage-codegen'd JVM expressions end to end.
    for name in (
        "agg_sum_groupby",
        "sim_knn_cosine",
        "window_rank_topk",
        "text_ngrams",
        "stream_session",
        "join_asof",
        "text_fingerprint",
    ):
        info = plan_of(spark, sf_dir, name)
        assert info["python_rows"] == 0, f"{name} fell back to row-at-a-time Python"
        assert info["arrow_python"] == 0, f"{name} unexpectedly crosses into Python"


def test_python_surface_uses_declared_boundary(spark, sf_dir):
    # The UDF-surface operators should cross into Python exactly as declared:
    # row-UDF for udf_py_scalar, Arrow for the pandas/mapInPandas family.
    assert plan_of(spark, sf_dir, "udf_py_scalar")["python_rows"] == 1
    for name in ("udf_pandas_scalar", "udf_grouped_map", "udf_pandas_agg"):
        info = plan_of(spark, sf_dir, name)
        assert info["arrow_python"] >= 1, f"{name} not on the Arrow path"
        assert info["python_rows"] == 0, f"{name} degraded to pickled rows"


def test_events_scan_prunes_payload_columns(spark, sf_dir):
    # reshape_pivot_wide touches only (user_id, event_type): the ts/props/value
    # columns must be pruned from the parquet scan despite the loader's
    # ts-normalization projection.
    info = plan_of(spark, sf_dir, "reshape_pivot_wide")
    schema = info["read_schema"][0]
    assert "user_id" in schema and "event_type" in schema
    assert "props" not in schema, "events scan reads unused JSON payload"
    assert "value" not in schema


def test_cleaning_and_chunking_are_pure_map_stages(spark, sf_dir):
    # HTML strip / PII mask / sliding chunks / intra-doc dedup are normalize-
    # stage transforms: at 100 TB they must run at scan speed — zero shuffles,
    # zero Python, everything inside whole-stage codegen.
    for name in (
        "text_clean_html",
        "text_pii_mask",
        "chunk_sliding",
        "text_dedup_repeats",
    ):
        info = plan_of(spark, sf_dir, name)
        assert info["shuffles"] == 0, f"{name}: {info['shuffles']} shuffles"
        assert info["python_rows"] == 0, f"{name} fell back to Python rows"
        assert info["arrow_python"] == 0, f"{name} crosses into Python"


def test_training_small_sides_broadcast(spark, sf_dir):
    # Contamination: the eval-set gram list is the small side — must broadcast
    # (the corpus side never shuffles on the gram key).
    info = plan_of(spark, sf_dir, "contam_ngram_overlap")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"contam: eval grams not broadcast ({bcast})"
    # Per-doc gram distinct is map-side (array_distinct): the only shuffles
    # are the tiny eval-set DISTINCT and the final per-doc aggregation.
    assert info["shuffles"] <= 2, f"contam: {info['shuffles']} shuffles"
    # Resampling: the |langs|-row factor table broadcasts twice (max join +
    # factor join); the corpus is replicated map-side, never shuffled.
    info = plan_of(spark, sf_dir, "resample_by_lang")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 2, f"resample: factors not broadcast ({bcast})"


def test_pack_sequences_reuses_window_partitioning(spark, sf_dir):
    # The lang-partitioned window cumsum shuffles once on lang; the following
    # (lang, seq_id) aggregation must REUSE that partitioning (hash(lang)
    # satisfies ClusteredDistribution(lang, seq_id)) — one shuffle total.
    info = plan_of(spark, sf_dir, "pack_concat_chunks")
    assert info["shuffles"] == 1, f"pack: {info['shuffles']} shuffles"


def test_geo_and_incremental_plan_shapes(spark, sf_dir):
    # Centroid/bbox: pure map stage over the WKT parse — JVM array folds,
    # zero shuffles, zero Python.
    info = plan_of(spark, sf_dir, "geo_centroid_bbox")
    assert info["shuffles"] == 0, f"centroid: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    # Point→region: the 25-row cell index broadcasts; the point side only
    # shuffles for the final per-region count.
    info = plan_of(spark, sf_dir, "geo_point_in_region")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"point_in_region: cell index not broadcast ({bcast})"
    assert info["shuffles"] <= 1, f"point_in_region: {info['shuffles']} shuffles"
    # Manifest diff: two partial-aggregated scans + a broadcast join over
    # |years| rows — the manifests are tiny, the diff must not sort-merge.
    info = plan_of(spark, sf_dir, "incr_partition_refresh")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"manifest diff not broadcast ({bcast})"
    assert info["sortmerge_joins"] == 0


def test_training_pipeline_no_sortmerge_no_python(spark, sf_dir):
    # The composed clean→dedup→gate→resample→pack flow must stay broadcast/
    # hash-agg shaped end to end: no sort-merge join, no Python boundary.
    info = plan_of(spark, sf_dir, "pipeline_training_set")
    assert info["sortmerge_joins"] == 0, "training pipeline fell to SMJ"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_dedup_and_resample_small_sides_broadcast(spark, sf_dir):
    # Canonical-survivor dedup: the cluster-label table must broadcast onto
    # the corpus scan (only docs with a near-dup enter the closure — tiny).
    info = plan_of(spark, sf_dir, "dedup_canonical_docs")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"canonical dedup: labels not broadcast ({bcast})"
    # Sqrt-temperature resampling: the |langs|-row target table broadcasts;
    # the replication explode is map-side (no corpus shuffle for the copies).
    info = plan_of(spark, sf_dir, "resample_sqrt_temperature")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 2, f"resample_sqrt: targets not broadcast ({bcast})"
    assert info["sortmerge_joins"] == 0


def test_search_prefix_topk_partial_before_exchange(spark, sf_dir):
    # The autocomplete top-k must keep Spark's rank-limit combiner: a
    # WindowGroupLimit in Partial mode BELOW the prefix exchange (each map
    # task emits <= 3 rows per prefix) and Final mode above it, so a hot
    # prefix's window partition sees <= 3 x P candidates, never the raw
    # corpus. AQE cannot provide this (it splits join partitions only) —
    # losing the Partial node reintroduces the serialized skewed window.
    import re

    info = plan_of(spark, sf_dir, "search_prefix_topk")
    plan = info["plan"]
    nodes = re.findall(r"^\s*[:+\-* ]*\((\d+)\) ([A-Za-z]+)", plan, re.M)
    limit_ids = [int(n) for n, op in nodes if op == "WindowGroupLimit"]
    assert len(limit_ids) == 2, f"expected Partial+Final WindowGroupLimit: {nodes}"
    exchange_ids = [
        int(n) for n, op in nodes if op == "Exchange" and int(n) > min(limit_ids)
    ]
    assert exchange_ids, "no exchange between partial and final rank limit"
    # Partial below the window exchange, Final above it.
    assert min(limit_ids) < min(exchange_ids) < max(limit_ids)
    # Mode annotations confirm which side is the map-side combiner.
    partial_detail = plan[plan.find(f"({min(limit_ids)}) WindowGroupLimit"):]
    assert "Partial" in partial_detail.split("\n\n")[0]
    final_detail = plan[plan.find(f"({max(limit_ids)}) WindowGroupLimit"):]
    assert "Final" in final_detail.split("\n\n")[0]


def test_merge_upsert_change_batch_broadcasts(spark, sf_dir):
    # MERGE: the change batch is the small side and must broadcast; the
    # snapshot never sort-merges and shuffles only for the manifest agg.
    info = plan_of(spark, sf_dir, "incr_merge_upsert")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 2, f"merge: change batch not broadcast ({bcast})"
    assert info["sortmerge_joins"] == 0, "merge fell to sort-merge"


def test_corpus_clean_single_scan_and_tokenize(spark, sf_dir):
    """Round-4 advice item 5: pipeline_corpus_clean must scan documents ONCE
    (window keep-first, not groupBy+self-join) and tokenize once behind a
    persisted diamond point; shuffle budget pinned well under the old 22,
    with zero sort-merge joins (the drop set broadcasts). Repeated calls do
    not leak cache: CacheManager dedupes the identical logical plan."""
    info = plan_of(spark, sf_dir, "pipeline_corpus_clean")
    assert info["plan"].count("documents.parquet") == 1
    # r15 bitset rewrite: the minhash near-dedup leg now verifies against
    # per-doc token bitsets and groups equal signatures before the bucket
    # join (functions/minhash.py) — each exchange is ≤ |docs| rows of
    # fixed-width longs, replacing the former (pair × token) match-stream
    # shuffle. r16 re-tightened the budget from 28 (r15 measured 26): the
    # group/mask diamonds are now PINNED for the result's lifetime
    # (functions/pins.py), so the branch recompute that inflated the r15
    # plan collapses into InMemoryRelation reuse — measured 13 at r16.
    # The round-5 intent (no quadratic corpus rescans, no token self-join)
    # is held by the scan == 1 and sortmerge == 0 pins.
    assert info["shuffles"] <= 16  # was 22 pre-r5, 8 pre-r15-bitset, 28 r15
    assert info["sortmerge_joins"] == 0
    # the tokenized intermediate is a persisted InMemoryRelation, so the
    # split/array_distinct transform runs once, not once per consumer branch
    assert "InMemoryRelation" in info["plan"]

    m = plan_of(spark, sf_dir, "pipeline_corpus_manifest")
    assert m["plan"].count("documents.parquet") == 1
    assert m["shuffles"] <= 1
    assert m["sortmerge_joins"] == 0


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of RDDs holding cache blocks that a ``persist()`` put there.
    Lineage checkpoints (``pins.truncate``) also hold blocks, but they ARE
    their frame's lineage and are reclaimed by Spark's ContextCleaner, not
    by a pin, so they are left out."""
    jsc = spark.sparkContext._jsc
    persistent = jsc.getPersistentRDDs()
    ids = set()
    for info in jsc.sc().getRDDStorageInfo():
        rdd = persistent.get(info.id())
        if rdd is not None and not rdd.rdd().isCheckpointed():
            ids.add(info.id())
    return ids


@pytest.mark.parametrize(
    "name,pins",
    [
        ("pipeline_corpus_clean", True),
        # connected components reads its edges once, through a checkpoint
        ("dedup_cluster_cc", False),
        ("graph_triangle_count", False),
        # BFS pins its edges only while its eager rounds run
        ("graph_bfs_layers", False),
        ("sim_containment_prefix", True),
    ],
)
def test_corpus_clean_cache_pin_is_bounded(spark, sf_dir, name, pins):
    """Round-7 verdict item 2, for every query that materializes a shared
    frame: no cache the query made may outlive its result. The finalizer
    (functions/pins.py) unpersists the pinned frames when the result handle
    is dropped, so the pin's lifetime equals the consumer's — a later query
    in the same session starts with the executor memory back and reads
    nothing an earlier query computed (a query that pins nothing must plan
    no in-memory scan at all)."""
    import gc
    import time

    # Track SPECIFIC RDD ids, not counts: the suite session holds other
    # finalizer-bounded caches whose async unpersists can fire between our
    # two measurements, making absolute counts race (seen once: 8 -> 7+1
    # across the query run).
    before = _cached_rdd_ids(spark)
    df = registry.QUERIES[name](spark, sf_dir)
    df.count()
    new_ids = _cached_rdd_ids(spark) - before
    if pins:
        assert new_ids, "diamond was never materialized into cache"
    else:
        assert not new_ids, f"{name} pins nothing, yet cached {new_ids}"
        # nor may it read a cache an earlier query left behind
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan, f"{name} reads a cache"
    del df
    gc.collect()
    # unpersist(blocking=False): entry removal is sync, block delete async
    for _ in range(50):
        if not (_cached_rdd_ids(spark) & new_ids):
            break
        time.sleep(0.1)
    assert not (_cached_rdd_ids(spark) & new_ids), f"{name}: cache outlived the result"


@pytest.mark.parametrize(
    "name",
    [
        "pipeline_corpus_clean",
        "sim_containment_prefix",
        "dedup_minhash_pairs",
    ],
)
def test_pinned_query_identical_under_eviction(spark, sf_dir, name):
    """pins.py's claim, tested: the pins are a plan-shape optimization
    only. The result's executed plan is built over the pinned caches and
    the caches are filled; then every pinned frame is unpersisted, so the
    plan's in-memory scans find their blocks gone. Collecting it must give
    the same canonical rows as the pinned run (an eviction degrades to
    recompute, never to other values)."""
    import gc

    from eviction_lab_etl_spark.functions import pins
    from tests.compare import canon_spark

    df = registry.QUERIES[name](spark, sf_dir)
    pinned = canon_spark(df)
    del df
    gc.collect()

    df = registry.QUERIES[name](spark, sf_dir)
    _, _, (frames,), _ = pins._PINS[df].peek()
    assert frames, f"{name} pins nothing; the eviction case would be vacuous"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, f"{name}: plan reads no pinned cache"
    df.count()  # fills the caches the plan reads
    for f in frames:
        f.unpersist(blocking=True)
    assert not any(f.is_cached for f in frames)
    assert canon_spark(df) == pinned


def test_round5_operator_plan_shapes(spark, sf_dir):
    """Round-5 additions keep their declared scale shapes: the funnel walks
    arrays JVM-side with NO Python boundary in 2 shuffles; per-source capping
    reuses ONE exchange for window+agg (same key); the skew-safe sessionizer
    is 2 shuffles (phase-1 bucketed, phase-2 session rows); gap-fill
    broadcasts its calendar spine; ingest dedup broadcasts the snapshot
    manifest; nothing plans a CartesianProduct."""
    funnel = plan_of(spark, sf_dir, "events_funnel")
    assert funnel["shuffles"] <= 2
    assert funnel["python_rows"] == 0 and funnel["arrow_python"] == 0

    cap = plan_of(spark, sf_dir, "resample_cap_source")
    assert cap["shuffles"] == 1 and cap["sortmerge_joins"] == 0

    skewsafe = plan_of(spark, sf_dir, "stream_session_skewsafe")
    assert skewsafe["shuffles"] <= 2

    gapfill = plan_of(spark, sf_dir, "ts_gapfill_locf")
    assert gapfill["broadcast_joins"] + gapfill["broadcast_nl_joins"] >= 2
    assert gapfill["sortmerge_joins"] == 0

    ingest = plan_of(spark, sf_dir, "incr_ingest_dedup")
    assert ingest["broadcast_joins"] >= 1 and ingest["sortmerge_joins"] == 0

    for name in ("events_funnel", "graph_triangle_count", "ann_ivf_recall"):
        assert "CartesianProduct" not in plan_of(spark, sf_dir, name)["plan"]


def test_tpch_shape_plan_shapes(spark, sf_dir):
    """The completed TPC-H family keeps its declared physical shapes: Q6 is a
    pure scan-aggregate with the date range pushed to the reader and no data
    shuffle; the deep dimension fans (Q7/Q8) broadcast every dimension
    instance; the self-referencing aggregates (Q11/Q15) stay free of
    cartesian products (their 1-row scalar sides broadcast); the Q13
    histogram is two chained aggregations, not more."""
    q6 = plan_of(spark, sf_dir, "complex_forecast_revenue")
    assert any("l_shipdate" in p for p in q6["pushed_filters"]), q6["pushed_filters"]
    assert q6["sortmerge_joins"] == 0 and q6["python_rows"] == 0

    q7 = plan_of(spark, sf_dir, "complex_nation_volume")
    assert q7["broadcast_joins"] >= 4, q7["broadcast_joins"]

    q8 = plan_of(spark, sf_dir, "complex_market_share")
    assert q8["broadcast_joins"] >= 5, q8["broadcast_joins"]
    assert "CartesianProduct" not in q8["plan"]

    for name in ("complex_important_stock", "complex_top_supplier"):
        info = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in info["plan"], name
        assert info["python_rows"] == 0, name

    q13 = plan_of(spark, sf_dir, "complex_cust_order_histogram")
    assert q13["shuffles"] <= 3, q13["shuffles"]

    q16 = plan_of(spark, sf_dir, "complex_parts_supplier_cnt")
    assert q16["broadcast_joins"] >= 2  # exclusion list + part dims broadcast
    assert q16["sortmerge_joins"] == 0


def test_embedding_and_series_plan_shapes(spark, sf_dir):
    """Embedding hygiene stats are single-scan, single-exchange, zero-Python
    (the quantize fold is a JVM higher-order function); the transition
    matrix and soft-dedup weights add only their own keyed exchange; linear
    interpolation never plans a cartesian or Python node."""
    for name in ("embed_centroid_stats", "embed_norm_hist"):
        info = plan_of(spark, sf_dir, name)
        assert info["shuffles"] == 1, (name, info["shuffles"])
        assert info["python_rows"] == 0 and info["arrow_python"] == 0, name

    trans = plan_of(spark, sf_dir, "events_type_transitions")
    assert trans["shuffles"] <= 2 and trans["python_rows"] == 0

    weights = plan_of(spark, sf_dir, "resample_downweight_dups")
    assert weights["shuffles"] == 1, weights["shuffles"]

    interp = plan_of(spark, sf_dir, "ts_interpolate_linear")
    assert "CartesianProduct" not in interp["plan"]
    assert interp["python_rows"] == 0 and interp["arrow_python"] == 0

    card = plan_of(spark, sf_dir, "pipeline_dataset_card")
    assert card["python_rows"] == 0 and card["arrow_python"] == 0


def test_late_round5_plan_shapes(spark, sf_dir):
    """Late round-5 additions keep their declared shapes: media feature
    chains are pure fused map stages (mapInPandas only — zero shuffles);
    the anomaly detector's scalar medians broadcast (no sort-merge join);
    RFM windows run on the user aggregate, not the fact; the SQL-surface
    report plans broadcast dimension joins like its DSL siblings; the
    boilerplate and correlation aggregates stay Python-free."""
    for name in ("multimodal_audio_features", "multimodal_video_motion"):
        info = plan_of(spark, sf_dir, name)
        assert info["shuffles"] == 0, (name, info["shuffles"])
        assert info["sortmerge_joins"] == 0, name

    mad = plan_of(spark, sf_dir, "ts_anomaly_mad")
    assert mad["sortmerge_joins"] == 0
    assert mad["broadcast_joins"] + mad["broadcast_nl_joins"] >= 2

    rfm = plan_of(spark, sf_dir, "events_rfm_segments")
    assert rfm["python_rows"] == 0 and rfm["arrow_python"] == 0

    sql_report = plan_of(spark, sf_dir, "sql_top_nations_report")
    assert sql_report["broadcast_joins"] >= 1
    assert "CartesianProduct" not in sql_report["plan"]

    for name in ("text_boilerplate_grams", "agg_corr_components",
                 "pipeline_clean_funnel", "graph_degree_hist"):
        info = plan_of(spark, sf_dir, name)
        assert info["python_rows"] == 0 and info["arrow_python"] == 0, name


def test_sessionize_default_is_two_phase_shape(spark, sf_dir):
    """The default sessionization entry point (streaming/batch_windows.py
    ``sessionize``) must keep the two-phase skew-safe shape: the FIRST
    (event-volume) exchange hashes on (user_id, bucket) — so a hot user fans
    out across buckets — and only the tiny per-local-session frame ever
    passes through a user_id-only partitioning (the phase-2 window). The
    native single-phase form, by contrast, exchanges the raw events on
    user_id alone."""
    import re

    from eviction_lab_etl_spark.sources.loader import load
    from eviction_lab_etl_spark.streaming.batch_windows import sessionize

    plan = audit_plan(sessionize(load(spark, sf_dir, "events")))["plan"]
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*), \d+\)", plan)
    assert len(parts) == 2, f"expected exactly 2 exchanges, got {parts}"
    # phase 1 (the EVENT-volume exchange, listed first in the details
    # section): keyed by user_id AND the bucket grouping expression
    phase1_keys = [k.strip() for k in parts[0].split(",")]
    assert any("user_id" in k for k in phase1_keys)
    assert len(phase1_keys) >= 2, f"phase-1 exchange not bucketed: {parts[0]}"
    # phase 2 (per-LOCAL-SESSION window merge): user_id alone — safe, its
    # input is one row per local session, not per event
    phase2_keys = [k.strip() for k in parts[1].split(",")]
    assert len(phase2_keys) == 1 and "user_id" in phase2_keys[0], parts[1]
    # and both machinery pieces are present in one plan: the session-window
    # local aggregation plus the interval-merge window
    assert "session_window" in plan
    assert "Window" in plan


def test_round6_plan_shapes(spark, sf_dir):
    """Round-6 additions keep their declared shapes: export sharding is a
    map + two-phase distinct aggregate (no joins, no Python); the perceptual
    hash chain is Arrow-batched end to end with its only exchange on the
    8-byte hash; hashed-gram contamination broadcasts the eval set exactly
    like the exact form; the prefix join, PageRank, and the IVM merge are
    Python-free with no cartesian products."""
    esm = plan_of(spark, sf_dir, "export_shard_manifest")
    assert esm["sortmerge_joins"] == 0 and esm["python_rows"] == 0
    assert esm["arrow_python"] == 0

    ph = plan_of(spark, sf_dir, "multimodal_phash_dedup")
    assert ph["arrow_python"] >= 2 and ph["python_rows"] == 0
    assert ph["sortmerge_joins"] == 0

    ch = plan_of(spark, sf_dir, "contam_ngram_hashed")
    assert ch["broadcast_joins"] >= 1
    assert ch["python_rows"] == 0 and ch["arrow_python"] == 0

    for name in ("sim_jaccard_prefix", "graph_pagerank", "incr_view_maintain"):
        info = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in info["plan"], name
        assert info["python_rows"] == 0 and info["arrow_python"] == 0, name


def test_late_round6_plan_shapes(spark, sf_dir):
    """Late round-6 additions keep their declared shapes: the MinHash banded
    candidate join is an EQUI-join on (band, slice-values) — never a
    nested-loop over the O(n²) pair space — and both it and the salted join
    are Python-free with no cartesian products."""
    mp = plan_of(spark, sf_dir, "dedup_minhash_pairs")
    assert "CartesianProduct" not in mp["plan"]
    assert mp["broadcast_nl_joins"] == 0
    assert mp["python_rows"] == 0 and mp["arrow_python"] == 0

    # The recall query's ONE BroadcastNestedLoopJoin is the deliberate
    # 1-row × 1-row cross of the two scalar aggregates — anything more
    # would mean a real join degenerated.
    mr = plan_of(spark, sf_dir, "dedup_minhash_recall")
    assert "CartesianProduct" not in mr["plan"]
    assert mr["broadcast_nl_joins"] <= 1
    assert mr["python_rows"] == 0 and mr["arrow_python"] == 0

    sj = plan_of(spark, sf_dir, "join_skew_salted")
    assert "CartesianProduct" not in sj["plan"]
    assert sj["python_rows"] == 0 and sj["arrow_python"] == 0


def test_round7_plan_shapes(spark, sf_dir):
    """multimodal_phash_near keeps its declared shape: the candidate join is
    an EQUI-join on (band, key) — never a nested loop or cartesian over the
    O(n²) image-pair space — and the only Python is the Arrow-batched
    encode→decode→dHash chain (≥2 mapInPandas stages, zero row-Python)."""
    pn = plan_of(spark, sf_dir, "multimodal_phash_near")
    assert "CartesianProduct" not in pn["plan"]
    assert pn["broadcast_nl_joins"] == 0
    assert pn["arrow_python"] >= 2 and pn["python_rows"] == 0


def test_audio_neardup_plan_shape(spark, sf_dir):
    """multimodal_audio_neardup mirrors the phash shape on the third
    modality: candidate equi-join on (band, key) — never a nested loop over
    the O(n²) clip-pair space — and the only Python is the Arrow-batched
    WAV mint→decode→fingerprint chain."""
    an = plan_of(spark, sf_dir, "multimodal_audio_neardup")
    assert "CartesianProduct" not in an["plan"]
    assert an["broadcast_nl_joins"] == 0
    assert an["arrow_python"] >= 2 and an["python_rows"] == 0


def test_round7_new_operator_plan_shapes(spark, sf_dir):
    """Round-7 additions keep their declared shapes. The Bloom-pruned join
    probes via a SINGLE-row broadcast (its one BroadcastNestedLoopJoin is
    the deliberate 1-row bloom attach; the dim join stays broadcast-hash);
    the fuzzy join is an EQUI-join on the length band — never a nested loop
    over the name-pair space; k-means assigns through broadcast centroid
    joins with zero Python anywhere; TF-IDF broadcasts the vocabulary onto
    tf. All four are Python-free."""
    bp = plan_of(spark, sf_dir, "join_bloom_pruned")
    assert "CartesianProduct" not in bp["plan"]
    assert bp["broadcast_nl_joins"] <= 1  # the 1-row bloom attach only
    assert bp["broadcast_joins"] >= 1  # the exact dim join stays hash
    assert bp["python_rows"] == 0 and bp["arrow_python"] == 0

    fz = plan_of(spark, sf_dir, "join_fuzzy_blocked")
    assert "CartesianProduct" not in fz["plan"]
    assert fz["broadcast_nl_joins"] == 0
    assert fz["python_rows"] == 0 and fz["arrow_python"] == 0

    km = plan_of(spark, sf_dir, "embed_kmeans_iter")
    assert "CartesianProduct" not in km["plan"]
    assert km["python_rows"] == 0 and km["arrow_python"] == 0
    # both assignment passes broadcast the k-row centroid frame
    assert km["broadcast_nl_joins"] >= 2

    tt = plan_of(spark, sf_dir, "text_tfidf_topterms")
    assert "CartesianProduct" not in tt["plan"]
    assert tt["broadcast_joins"] >= 1  # vocabulary onto tf
    assert tt["python_rows"] == 0 and tt["arrow_python"] == 0


def test_round7_composition_plan_shapes(spark, sf_dir):
    """The two round-7 compositions keep their declared shapes: entity
    resolution never plans a cartesian/nested loop over the name-pair space
    (blocking is an equi-join; the canonical mapping broadcasts back), and
    the gaps-and-islands query is join-free with its window and both
    aggregations all keyed on user_id — every exchange hashes user_id, so a
    cluster reuses one partitioning."""
    er = plan_of(spark, sf_dir, "pipeline_entity_resolution")
    assert "CartesianProduct" not in er["plan"]
    assert er["python_rows"] == 0 and er["arrow_python"] == 0
    assert er["broadcast_joins"] >= 1  # canonical labels back onto names

    si = plan_of(spark, sf_dir, "events_streak_islands")
    assert si["sortmerge_joins"] == 0 and si["broadcast_nl_joins"] == 0
    assert si["python_rows"] == 0 and si["arrow_python"] == 0
    assert "CartesianProduct" not in si["plan"]
    # every exchange in the plan hashes on user_id (island rides along)
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", si["plan"]):
        assert "user_id" in part, si["plan"]


def test_round7_second_batch_plan_shapes(spark, sf_dir):
    """The skyline, EWMA, and BM25 additions keep their declared shapes.
    Skyline: both sweep phases are windows — no join of any kind, so the
    quadratic NOT-EXISTS shape (the oracle's) is structurally absent. EWMA:
    join-free, one user_id-keyed exchange shared by all 8 lags. BM25: the
    3-row idf and the 1-row scalars broadcast (each 1-row cross is a
    BroadcastNestedLoopJoin by construction); the top-10 is
    TakeOrderedAndProject, never a global sort. All three are Python-free."""
    sk = plan_of(spark, sf_dir, "window_skyline_2d")
    assert "CartesianProduct" not in sk["plan"]
    assert sk["sortmerge_joins"] == 0 and sk["broadcast_nl_joins"] == 0
    assert sk["broadcast_joins"] == 0  # join-free: windows only
    assert sk["python_rows"] == 0 and sk["arrow_python"] == 0

    ew = plan_of(spark, sf_dir, "ts_ewma_smooth")
    assert ew["sortmerge_joins"] == 0 and ew["broadcast_nl_joins"] == 0
    assert ew["python_rows"] == 0 and ew["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", ew["plan"])
    assert parts and all("user_id" in p for p in parts), ew["plan"]

    bm = plan_of(spark, sf_dir, "search_bm25_topk")
    assert "CartesianProduct" not in bm["plan"]
    assert bm["broadcast_joins"] >= 1  # the 3-row (term, idf) dim
    assert bm["broadcast_nl_joins"] <= 3  # the 1-row scalar attaches only
    assert "TakeOrderedAndProject" in bm["plan"]
    assert bm["python_rows"] == 0 and bm["arrow_python"] == 0


def test_round7_scd2_and_bfs_plan_shapes(spark, sf_dir):
    """SCD2 build: join-free, every exchange hashes user_id (the collapse
    lag, the closing lead, and the version number share one exchange+sort),
    no Python. BFS layers: the per-round expansions are equi-joins on the
    vertex key — no cartesian/nested-loop anywhere in the unrolled plan —
    and Python enters only at the declared boundary count of the underlying
    near-dup similarity join."""
    sc = plan_of(spark, sf_dir, "incr_scd2_build")
    assert sc["sortmerge_joins"] == 0 and sc["broadcast_nl_joins"] == 0
    assert sc["python_rows"] == 0 and sc["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", sc["plan"])
    assert parts and all("user_id" in p for p in parts), sc["plan"]

    bf = plan_of(spark, sf_dir, "graph_bfs_layers")
    assert "CartesianProduct" not in bf["plan"]
    assert bf["python_rows"] == 0


def test_hybrid_rrf_plan_shape(spark, sf_dir):
    """Hybrid retrieval: both legs end in TakeOrderedAndProject (the fusion
    joins two 20-row frames, nothing data-proportional crosses it), the
    idf/scalar attaches stay 1-row broadcasts, and the whole plan is
    Python-free."""
    hy = plan_of(spark, sf_dir, "search_hybrid_rrf")
    assert "CartesianProduct" not in hy["plan"]
    assert hy["plan"].count("TakeOrderedAndProject") >= 2
    assert hy["python_rows"] == 0 and hy["arrow_python"] == 0


def test_embed_pq_codes_is_map_only(spark, sf_dir):
    """PQ encoding must be a pure per-row transform: the corpus path is
    scan → BroadcastNestedLoopJoin(1-row codebook) → project — the only
    shuffle in the whole plan is the bounded 4-row codebook build's
    single-partition window, the corpus itself NEVER exchanges, and no
    Python boundary exists anywhere."""
    pq = plan_of(spark, sf_dir, "embed_pq_codes")
    assert pq["broadcast_nl_joins"] == 1, pq["plan"]
    assert pq["sortmerge_joins"] == 0 and pq["broadcast_joins"] == 0
    assert pq["python_rows"] == 0 and pq["arrow_python"] == 0
    assert pq["shuffles"] <= 1, pq["plan"]  # codebook-side only (4 rows)
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", pq["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_dedup_semantic_quadratic_is_bucket_scoped(spark, sf_dir):
    """SemDeDup's scaling claim, structurally: the assignment stage is
    map-only (1-row centroid broadcast, BNLJ), the pair scan equi-joins on
    the bucket id — NO CartesianProduct and no nested-loop beyond the
    codebook attach — and no Python boundary exists."""
    sd = plan_of(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in sd["plan"]
    # One codebook BNLJ per consumer of the assignment diamond (x1 + the
    # two self-join sides) — at runtime AQE collapses the self-join legs
    # via ReuseExchange (measured: 2 ReusedExchange nodes in the final
    # adaptive plan) and broadcasts the small dup side of the verdict join.
    assert sd["broadcast_nl_joins"] <= 3, sd["plan"]
    assert sd["python_rows"] == 0 and sd["arrow_python"] == 0
    import re as _re

    # the pair scan's exchange hashes the bucket id (cid), the verdict
    # join hashes vec ids — nothing else may shuffle the corpus. Capture
    # FULL argument lists: a pair-level distinct would smuggle the
    # 64-element quantized vectors (q) into an exchange behind an
    # innocuous first key.
    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", sd["plan"])
    assert parts, sd["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()  # trailing partition count
        }
        keys.discard("")
        assert keys <= {"cid", "vec_id", "dup", "a", "b"}, arglist


def test_pack_bins_nextfit_python_sees_metadata_only(spark, sf_dir):
    """The packing greedy is a DECLARED Arrow boundary fed metadata only:
    exactly one grouped-map Python stage, exactly one exchange (the shard
    key), and the text column must not survive past the token count — the
    Python stage's input schema carries (doc_id, shard, n_tok), never
    text."""
    pk = plan_of(spark, sf_dir, "pack_bins_nextfit")
    assert pk["arrow_python"] == 1, pk["plan"]
    assert pk["python_rows"] == 0
    assert pk["shuffles"] == 1, pk["plan"]
    import re as _re

    parts = _re.findall(r"hashpartitioning\((\w+)", pk["plan"])
    assert parts and set(parts) == {"shard"}, parts
    # the grouped-map node's child projection is id/shard/token-count only
    gm = [l for l in pk["plan"].splitlines() if "FlatMapGroupsInPandas" in l
          or "ArrowGroupedMapPython" in l or "GroupedMapPython" in l]
    assert gm, pk["plan"]
    assert "text" not in gm[0], gm[0]


def test_search_pq_adc_topk_corpus_never_exchanges_before_cut(spark, sf_dir):
    """ADC search must keep the PQ promise: the corpus path is map-only
    folds (codebook + lookup table both ride 1-row broadcasts) ending in
    TakeOrderedAndProject — no corpus hash exchange before the top-10 cut,
    no Python anywhere."""
    ad = plan_of(spark, sf_dir, "search_pq_adc_topk")
    assert "TakeOrderedAndProject" in ad["plan"]
    assert ad["python_rows"] == 0 and ad["arrow_python"] == 0
    assert ad["sortmerge_joins"] == 0 and ad["broadcast_joins"] == 0
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", ad["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_search_sq8_topk_corpus_never_exchanges_before_cut(spark, sf_dir):
    """SQ8 asymmetric search must keep the same promise as the PQ leg:
    range frame and probe both ride 1-row broadcasts, encode/dequantize/
    distance are per-row JVM array folds, and the corpus path ends in
    TakeOrderedAndProject with no hash exchange and no Python anywhere."""
    sq = plan_of(spark, sf_dir, "search_sq8_topk")
    assert "TakeOrderedAndProject" in sq["plan"]
    assert sq["python_rows"] == 0 and sq["arrow_python"] == 0
    assert sq["sortmerge_joins"] == 0 and sq["broadcast_joins"] == 0
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", sq["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_search_sq8_rerank_exact_stage_is_candidate_scoped(spark, sf_dir):
    """Two-stage retrieval must keep the rerank promise: the corpus-wide
    stage is the code scan (no exact fold — _sq8_scored(with_exact=False)),
    the candidate list reaches the raw vectors as a BROADCAST probe (never
    a corpus-side shuffle), and the whole plan stays JVM-side with no
    corpus hash exchange and no sort-merge join."""
    rr = plan_of(spark, sf_dir, "search_sq8_rerank")
    assert "TakeOrderedAndProject" in rr["plan"]
    assert rr["python_rows"] == 0 and rr["arrow_python"] == 0
    assert rr["sortmerge_joins"] == 0
    assert rr["broadcast_joins"] >= 1, rr["plan"]
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", rr["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_text_normalize_unicode_is_map_only(spark, sf_dir):
    """The normalize chain must run at scan speed: no shuffle, no join, no
    Python — a pure projection over the corpus scan."""
    nm = plan_of(spark, sf_dir, "text_normalize_unicode")
    assert nm["shuffles"] == 0, nm["plan"]
    assert nm["python_rows"] == 0 and nm["arrow_python"] == 0
    assert nm["sortmerge_joins"] == 0 and nm["broadcast_joins"] == 0


def test_dedup_exact_normalized_single_digest_shuffle(spark, sf_dir):
    """Normalized dedup must cost exactly what exact dedup costs: the
    normalize chain rides map-side inside the scan projection, and the only
    exchange hashes the 16-byte digest of the normalized text."""
    dd = plan_of(spark, sf_dir, "dedup_exact_normalized")
    assert dd["python_rows"] == 0 and dd["arrow_python"] == 0
    import re as _re

    # Catalyst names the md5(...) groupBy key `_groupingexpression`; either
    # way the plan must carry exactly one corpus exchange on that digest.
    parts = _re.findall(r"hashpartitioning\((\w+)", dd["plan"])
    assert parts and set(parts) <= {"h", "_groupingexpression"}, parts
    assert dd["shuffles"] == 1, dd["plan"]


def test_text_pmi_collocations_single_corpus_shuffle(spark, sf_dir):
    """PMI mining must exchange the corpus ONCE (the (x, y) pair count);
    marginals and the total derive from the vocabulary²-bounded pair-count
    frame and ride back as broadcasts — their exchanges re-key that small
    frame (x / y / singleton), never the bigram stream. No Python, no
    cartesian."""
    pm = plan_of(spark, sf_dir, "text_pmi_collocations")
    assert "CartesianProduct" not in pm["plan"]
    assert pm["python_rows"] == 0 and pm["arrow_python"] == 0
    assert "TakeOrderedAndProject" in pm["plan"]
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", pm["plan"])
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"x", "y"}, arglist


def test_sketch_quantile_mergeable_two_arrow_stages(spark, sf_dir):
    """The quantile summary must be the DECLARED two-phase Arrow shape:
    one mapInPandas partial per partition + one grouped merge — exactly two
    Arrow boundaries, zero row-wise Python. (The exact-quantile and
    rank-verification legs are JVM joins/aggregates over the value scan —
    verification-side, hash-checked.)"""
    qs = plan_of(spark, sf_dir, "sketch_quantile_mergeable")
    assert qs["arrow_python"] == 2, qs["plan"]
    assert qs["python_rows"] == 0
    assert "CartesianProduct" not in qs["plan"]


def test_text_dup_span_coverage_shape(spark, sf_dir):
    """Span-coverage: gram strings shuffle once for the document-frequency
    count, join back on the gram, one per-doc aggregate — no Python, no
    cartesian, and the doc-frequency side's exchange reuses the gram key."""
    sp = plan_of(spark, sf_dir, "text_dup_span_coverage")
    assert "CartesianProduct" not in sp["plan"]
    assert sp["python_rows"] == 0 and sp["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\((\w+)", sp["plan"])
    assert parts and set(parts) <= {"gram", "doc_id"}, parts


def test_text_lm_nll_is_float_free_and_bigram_keyed(spark, sf_dir):
    """The LM gate's exactness rests on NO float existing anywhere: the
    plan must contain no log/ln/double cast in any projection, and the
    corpus-sized exchanges hash only the bigram/context keys and doc_id."""
    lm = plan_of(spark, sf_dir, "text_lm_nll")
    assert lm["python_rows"] == 0 and lm["arrow_python"] == 0
    low = lm["plan"].lower()
    assert "log(" not in low and " ln(" not in low, "float log leaked in"
    assert "as double" not in low, "double cast leaked into the LM plan"
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", lm["plan"])
    assert parts, lm["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"a", "b", "doc_id", "w"}, arglist


def test_text_bpe_train_iterates_on_the_vocab_frame(spark, sf_dir):
    """BPE training's scale split: ONE corpus-sized word-count shuffle;
    every merge iteration then runs on the vocabulary frame — argmax rows
    attach via 1-row broadcast nested loops (≤ one per unrolled merge
    appearing per consumer subtree), never a CartesianProduct, and no
    Python anywhere."""
    bp = plan_of(spark, sf_dir, "text_bpe_train")
    assert "CartesianProduct" not in bp["plan"]
    assert bp["python_rows"] == 0 and bp["arrow_python"] == 0
    # each unrolled merge's argmax row re-attaches inside every later
    # iteration's subtree (the kmeans unrolled-lineage shape): bounded by
    # ~K(K+1)/2 1-row BNLJs for K merges, all broadcast-tiny.
    assert bp["broadcast_nl_joins"] <= 6, bp["plan"]
    assert "TakeOrderedAndProject" in bp["plan"]  # the per-merge argmax
    import re as _re

    # _groupingexpression = the pair-count groupBy's projected (lhs, rhs)
    # key over the vocab frame. Capture FULL argument lists (the lm test's
    # discipline) so a widened exchange — e.g. hashpartitioning(word, toks)
    # dragging the char arrays through the shuffle — cannot hide behind an
    # allowlisted first key.
    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", bp["plan"])
    assert parts, bp["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {
            "word", "lhs", "rhs", "_groupingexpression"
        }, arglist


def test_join_interval_overlap_is_time_partitioned(spark, sf_dir):
    """The overlap predicate must ride INSIDE the (event_type, day)
    equi-join — no CartesianProduct, no nested loop — and every exchange
    hashes the partition/user keys only (full argument lists captured)."""
    ov = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in ov["plan"]
    assert ov["broadcast_nl_joins"] == 0, ov["plan"]
    assert ov["python_rows"] == 0 and ov["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", ov["plan"])
    assert parts, ov["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"event_type", "day", "user_id"}, arglist


def test_search_ivfpq_is_shuffle_free_and_scoped(spark, sf_dir):
    """IVF-PQ search must compose both halves' scale promises: all three
    small artifacts (PQ codebook, coarse codebook, ADC table + probe cells)
    ride 1-row broadcasts, coarse assignment / scoping / scoring are pure
    per-row folds, and the only ordering work is the TakeOrderedAndProject
    cut — ZERO exchanges anywhere (even the fixture build stays broadcast),
    so the corpus never shuffles. The recall companion keeps the same shape
    twice over."""
    import re as _re

    for name in ("search_ivfpq_topk", "search_ivfpq_recall"):
        iv = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in iv["plan"]
        assert "CartesianProduct" not in iv["plan"]
        assert iv["shuffles"] == 0, f"{name}: {iv['shuffles']} shuffles"
        assert iv["sortmerge_joins"] == 0
        assert iv["python_rows"] == 0 and iv["arrow_python"] == 0
        assert not _re.findall(r"hashpartitioning\(", iv["plan"]), name


def test_search_ivfsq_is_shuffle_free_and_scoped(spark, sf_dir):
    """IVF-SQ must keep the IVF-PQ pin with SQ8 scoring: the range frame,
    coarse codebook, and probe artifacts ride 1-row broadcasts; encode /
    dequantize / assignment / scoping / distance are per-row folds; the
    only ordering work is the TakeOrderedAndProject cut. Unlike PQ (whose
    codebook is 4 seed rows), SQ8's range frame is a global min/max
    AGGREGATE — its final reduction is one SinglePartition exchange of one
    partial row per task, the only exchange allowed; the corpus itself
    never hash-shuffles. Same shape for the recall companion."""
    import re as _re

    for name in ("search_ivfsq_topk", "search_ivfsq_recall"):
        iv = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in iv["plan"]
        assert "CartesianProduct" not in iv["plan"]
        assert iv["shuffles"] <= 2, f"{name}: {iv['shuffles']} shuffles"
        assert iv["sortmerge_joins"] == 0
        assert iv["python_rows"] == 0 and iv["arrow_python"] == 0
        assert not _re.findall(r"hashpartitioning\(", iv["plan"]), name


def test_pack_bins_bpe_python_sees_metadata_only(spark, sf_dir):
    """The BPE-count packing variant must keep pack_bins_nextfit's Arrow
    contract — exactly one grouped-map Python stage whose input schema is
    (doc_id, shard, n_tok), never text — and every exchange hashes only the
    BPE-training keys (word / pair-count grouping), doc_id (the per-doc
    count), or shard (the packing unit)."""
    pk = plan_of(spark, sf_dir, "pack_bins_bpe")
    assert pk["arrow_python"] == 1, pk["plan"]
    assert pk["python_rows"] == 0
    gm = [l for l in pk["plan"].splitlines() if "FlatMapGroupsInPandas" in l
          or "ArrowGroupedMapPython" in l or "GroupedMapPython" in l]
    assert gm, pk["plan"]
    assert "text" not in gm[0], gm[0]
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", pk["plan"])
    assert parts, pk["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {
            "word", "lhs", "rhs", "_groupingexpression", "doc_id", "shard"
        }, arglist


def test_text_bpe_encode_vocab_broadcasts(spark, sf_dir):
    """Encoding is a map-side hash join of exploded corpus words against the
    broadcast trained vocabulary: no sort-merge join, no Python, and the
    corpus-sized exchanges hash only word (the vocab build) and doc_id (the
    final per-doc aggregate)."""
    en = plan_of(spark, sf_dir, "text_bpe_encode")
    assert en["sortmerge_joins"] == 0, en["plan"]
    assert en["broadcast_joins"] >= 1
    assert en["python_rows"] == 0 and en["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", en["plan"])
    assert parts, en["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {
            "word", "lhs", "rhs", "_groupingexpression", "doc_id"
        }, arglist


def test_dedup_incremental_batch_side_broadcasts(spark, sf_dir):
    """The incremental admission gate's O(batch) promise, structurally: the
    batch's band buckets, token set, candidate pairs, and verdicts all ride
    broadcasts (no sort-merge join anywhere, no cartesian, no Python), and
    the only exchanges are the signature/size groupBys (id/doc-keyed — the
    amortizable index build), the candidate distinct, and the final per-doc
    ledger aggregate."""
    db = plan_of(spark, sf_dir, "dedup_incremental_batch")
    assert "CartesianProduct" not in db["plan"]
    assert db["sortmerge_joins"] == 0, db["plan"]
    assert db["broadcast_joins"] >= 6, db["plan"]
    assert db["python_rows"] == 0 and db["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", db["plan"])
    assert parts, db["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"id", "a", "b", "bid", "cid", "doc_id"}, arglist


def test_contam_bloom_gate_plan_shape(spark, sf_dir):
    """The bloom decontamination gate keeps its declared shape: the bench
    gram set reaches the corpus ONLY as the 1-row bloom attach (exactly one
    BroadcastNestedLoopJoin), the bit test runs JVM-side (no Python
    anywhere), and every exchange is either gram-keyed (bench distinct +
    survivor join) or doc-keyed (the two per-doc aggregates) — the corpus
    gram stream itself is never exchanged un-pruned for the hit side."""
    bg = plan_of(spark, sf_dir, "contam_bloom_gate")
    assert "CartesianProduct" not in bg["plan"]
    assert bg["broadcast_nl_joins"] == 1, bg["plan"]  # the 1-row bloom attach
    assert bg["python_rows"] == 0 and bg["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", bg["plan"])
    assert parts, bg["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        # `word` is bloom_build's word-index groupBy — at most m_bits/64
        # (= 128) rows, the filter's own construction, never corpus data.
        assert keys <= {"gram", "doc_id", "word"}, arglist


def test_text_dup_span_remove_plan_shape(spark, sf_dir):
    """Span removal stays declarative and pair-space-free: no Python, no
    cartesian, and every exchange is gram-keyed (owner agg + join back) or
    doc/(doc,p)-keyed (covered distinct, anti join, rebuild agg) — never a
    doc x doc comparison."""
    sr = plan_of(spark, sf_dir, "text_dup_span_remove")
    assert "CartesianProduct" not in sr["plan"]
    assert sr["python_rows"] == 0 and sr["arrow_python"] == 0
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", sr["plan"])
    assert parts, sr["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"gram", "doc_id", "p"}, arglist


def test_sketch_countmin_plan_shape(spark, sf_dir):
    """CMS keeps the mergeable-sketch shape: exactly one Arrow boundary
    (the per-batch grid builder), the merged grid joins the probes by
    BROADCAST (192 cells, never a shuffle of the probe side against it),
    no row-Python, no cartesian, and the only corpus-sized exchange is the
    exact-verdict pass's pair groupBy (documented: production ships only
    the sketch)."""
    cm = plan_of(spark, sf_dir, "sketch_countmin")
    assert "CartesianProduct" not in cm["plan"]
    assert cm["arrow_python"] == 1, cm["plan"]
    assert cm["python_rows"] == 0
    assert cm["broadcast_joins"] >= 1, cm["plan"]
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", cm["plan"])
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        # pair = exact verdict pass; (j, b) = the 192-cell grid merge.
        assert keys <= {"pair", "j", "b"}, arglist


def test_search_hard_negatives_plan_shape(spark, sf_dir):
    """Hard-negative mining keeps BM25's scale posture with a query
    dimension added: the token stream is vocabulary-filtered via broadcast
    semi-probe before any shuffle, idf/avgdl/N/query tables all broadcast,
    and the only data-sized exchanges are doc- or (doc,term)-keyed (plus
    the per-query ranking window over scored docs) — never term-keyed over
    the full stream, never query x corpus."""
    hn = plan_of(spark, sf_dir, "search_hard_negatives")
    assert "CartesianProduct" not in hn["plan"]
    assert hn["python_rows"] == 0 and hn["arrow_python"] == 0
    assert hn["broadcast_joins"] >= 3, hn["plan"]
    import re as _re

    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", hn["plan"])
    assert parts, hn["plan"]
    for arglist in parts:
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"doc_id", "term", "query_id"}, arglist


def test_search_rp_topk_corpus_never_exchanges_before_cut(spark, sf_dir):
    """The JL-projected search must keep the PQ/SQ8 promise at a quarter
    the fold width: projection is a literal-matrix map fold, the probe's
    projected row is a 1-row broadcast, and the corpus path ends in
    TakeOrderedAndProject with no hash exchange and no Python anywhere."""
    rp = plan_of(spark, sf_dir, "search_rp_topk")
    assert "TakeOrderedAndProject" in rp["plan"]
    assert rp["python_rows"] == 0 and rp["arrow_python"] == 0
    assert rp["sortmerge_joins"] == 0
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", rp["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_round12_web_and_assembly_plan_shapes(spark, sf_dir):
    """Round-12 third batch scale pins.

    - dedup_url_keep_first: the canonicalizer is a scan-projection regex
      chain (no Python), and the keep-first collapses map-side — exactly one
      data-sized hash exchange, keyed on the canonical URL.
    - ts_resample_ohlc: the agg-only OHLC form — every exchange keyed
      (event_type, bar); no sort-merge join, no window over the fact stream.
    - text_vocab_nucleus: the token stream collapses on (lang, tok); the
      windows run per-lang on the collapsed count frame — no other keys.
    - pack_interleave_sources: the two-phase rank never hash-exchanges on
      the bare hot source key for the DOC stream (only (source, bkt) fine
      keys); offsets/src-index/n_src sides all broadcast.
    """
    url = plan_of(spark, sf_dir, "dedup_url_keep_first")
    assert url["python_rows"] == 0 and url["arrow_python"] == 0
    import re as _re

    url_parts = _re.findall(r"hashpartitioning\(([^)]*)\)", url["plan"])
    assert url_parts, url["plan"]
    for arglist in url_parts:
        assert "canon_url" in arglist, arglist

    ohlc = plan_of(spark, sf_dir, "ts_resample_ohlc")
    assert ohlc["python_rows"] == 0 and ohlc["arrow_python"] == 0
    assert ohlc["sortmerge_joins"] == 0
    assert "Window" not in ohlc["plan"], "OHLC must stay agg-only"
    for arglist in _re.findall(r"hashpartitioning\(([^)]*)\)", ohlc["plan"]):
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"event_type", "bar"}, arglist

    nuc = plan_of(spark, sf_dir, "text_vocab_nucleus")
    assert nuc["python_rows"] == 0 and nuc["arrow_python"] == 0
    for arglist in _re.findall(r"hashpartitioning\(([^)]*)\)", nuc["plan"]):
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"lang", "tok"}, arglist

    ilv = plan_of(spark, sf_dir, "pack_interleave_sources")
    assert ilv["python_rows"] == 0 and ilv["arrow_python"] == 0
    assert ilv["sortmerge_joins"] == 0
    assert ilv["broadcast_joins"] >= 2, ilv["plan"]
    doc_stream_parts = [
        arglist
        for arglist in _re.findall(r"hashpartitioning\(([^)]*)\)", ilv["plan"])
        if "doc_id" in arglist or "bkt" in arglist
    ]
    # The doc stream may exchange only on the fine (source, bkt) key (its
    # local-rank window); the bare-source exchanges in the plan belong to
    # the tiny counts/offsets frame (cumulative window), never the stream.
    for arglist in doc_stream_parts:
        assert "bkt" in arglist, arglist


def test_search_filtered_topk_predicate_pushed_no_exchange(spark, sf_dir):
    """The filtered-retrieval promise: the label predicate reaches the
    parquet scan (PushedFilters — row-group stats can skip), the corpus
    path never hash-exchanges (1-row probe broadcast + TakeOrdered cut),
    and the fold stays JVM-side."""
    info = plan_of(spark, sf_dir, "search_filtered_topk")
    assert any("label" in p for p in info["pushed_filters"]), info["pushed_filters"]
    assert "TakeOrderedAndProject" in info["plan"]
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    import re as _re

    for part in _re.findall(r"hashpartitioning\(([^)]*)\)", info["plan"]):
        raise AssertionError(f"corpus hash exchange leaked: {part}")


def test_attribution_and_median_single_user_or_domain_keyed(spark, sf_dir):
    """events_attribution_last_touch: exactly one user-keyed exchange (both
    ignore-nulls windows share the sort), purchase filter after. The
    count-frame median: the fact stream exchanges only on (event_type, v)
    — the collapse — plus event_type for the frame windows; never wider."""
    import re as _re

    att = plan_of(spark, sf_dir, "events_attribution_last_touch")
    assert att["python_rows"] == 0 and att["arrow_python"] == 0
    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", att["plan"])
    assert len(parts) == 1, parts
    assert "user_id" in parts[0]
    assert att["plan"].count("Window") <= 2, "windows must share one sort"

    med = plan_of(spark, sf_dir, "agg_median_countframe")
    assert med["python_rows"] == 0 and med["arrow_python"] == 0
    for arglist in _re.findall(r"hashpartitioning\(([^)]*)\)", med["plan"]):
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"event_type", "v"}, arglist


def test_web_domain_cap_has_partial_window_group_limit(spark, sf_dir):
    """The skew-safety claim of the per-host cap: Catalyst must rewrite the
    row_number + rank-filter as WindowGroupLimit nodes — the PARTIAL one
    runs before the exchange, capping what any map task ships per host (a
    mega-domain never funnels uncut through one reducer). Two nodes =
    partial + final; losing the rewrite (e.g. by projecting the rank
    through an intermediate materialization) silently reverts to the
    hot-reducer plan this test exists to forbid."""
    info = plan_of(spark, sf_dir, "web_domain_cap")
    assert info["plan"].count("WindowGroupLimit") >= 2, info["plan"]


def test_geo_point_in_polygon_zero_shuffles(spark, sf_dir):
    # Exact containment must be a pure broadcast-probe pipeline: the cell-
    # exploded polygon index broadcasts (with its coordinate arrays), the
    # point side computes cell + ray-cast in the scan projection, and the
    # output is map-side rows — ZERO shuffle exchanges, zero Python. This is
    # the plan-shape that makes the operator 100 TB-safe: the fact side
    # never exchanges at all.
    info = plan_of(spark, sf_dir, "geo_point_in_polygon")
    assert info["shuffles"] == 0, f"point_in_polygon: {info['shuffles']} shuffles"
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"polygon cell index not broadcast ({bcast})"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_gopher_and_boilerplate_plan_shapes(spark, sf_dir):
    # Gopher rules: a pure scan-projection rider — zero shuffles, zero
    # Python, all folds JVM-side.
    info = plan_of(spark, sf_dir, "text_gopher_rules")
    assert info["shuffles"] == 0, f"gopher: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    # Boilerplate strip: the hot-line table must BROADCAST (it is small by
    # definition — only corpus-wide-repeated content); the line stream pays
    # the count aggregation and the doc reassembly, nothing else. No
    # sort-merge join anywhere.
    info = plan_of(spark, sf_dir, "text_boilerplate_strip")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"hot-line table not broadcast ({bcast})"
    assert info["sortmerge_joins"] == 0
    assert info["shuffles"] <= 2, f"boilerplate: {info['shuffles']} shuffles"


def test_geo_point_in_polygon_holes_zero_shuffles(spark, sf_dir):
    # Multi-ring containment keeps the single-ring plan: broadcast cell
    # index (now carrying nested ring arrays), map-side nested fold, zero
    # shuffle exchanges, zero Python.
    info = plan_of(spark, sf_dir, "geo_point_in_polygon_holes")
    assert info["shuffles"] == 0, f"holes: {info['shuffles']} shuffles"
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_pii_scrub_plan_shape(spark, sf_dir):
    # Wide-grammar PII scrub: a pure scan-projection rider like
    # text_gopher_rules — zero shuffles, zero Python; all three regex
    # classes fold JVM-side inside the scan projection.
    info = plan_of(spark, sf_dir, "text_pii_scrub")
    assert info["shuffles"] == 0, f"pii_scrub: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_geo_search_index_geometry_adds_no_exchange(spark, sf_dir):
    # Capstone contract: the geometry enrichment (cell index, centroid,
    # name labels) is ALL nation-sized broadcasts probed map-side — the
    # only exchanges are the ones pipeline_search_index's activity column
    # inherently costs (orders join + final aggregation). Zero Python.
    base = plan_of(spark, sf_dir, "pipeline_search_index")
    info = plan_of(spark, sf_dir, "geo_search_index")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 3, f"cells/labels/centroid not broadcast ({bcast})"
    assert info["shuffles"] <= base["shuffles"], (
        f"geometry added exchanges: {info['shuffles']} vs "
        f"search_index's {base['shuffles']}"
    )
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_bbox_overlap_and_tile_cover_plan_shapes(spark, sf_dir):
    # PBSM bbox join: the cell-bucketed side broadcasts; the reference-point
    # dedup is a predicate, NOT a distinct — zero shuffle exchanges total.
    info = plan_of(spark, sf_dir, "geo_bbox_overlap_pairs")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"cell side not broadcast ({bcast})"
    assert info["shuffles"] == 0, f"bbox join: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    # Tile cover: pure scan rider — bbox fold + integer explode, no join,
    # no shuffle, no Python.
    info = plan_of(spark, sf_dir, "geo_tile_cover")
    assert info["shuffles"] == 0, f"tile cover: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_crosswalk_alloc_plan_shape(spark, sf_dir):
    # Cross-vintage PBSM join: target-vintage cells AND the source-measure
    # aggregate both broadcast; the only exchanges are the source-measure
    # aggregation and the per-source window for den.
    info = plan_of(spark, sf_dir, "geo_crosswalk_alloc")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 2, f"target cells / src measure not broadcast ({bcast})"
    assert info["shuffles"] <= 3, f"crosswalk: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_attribution_linear_single_user_exchange(spark, sf_dir):
    # The touch x purchase pairing joins on user_id and the per-purchase
    # count window's (user_id, purchase_id) clustering is satisfied by that
    # same partitioning — Spark inserts a sort, NOT a second exchange.
    info = plan_of(spark, sf_dir, "events_attribution_linear")
    assert info["shuffles"] <= 2, f"attribution: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_profile_column_stats_single_scan(spark, sf_dir):
    # Profiling is ONE scan: the unpivot is a JVM explode in the scan
    # projection; the grouped agg (with exact-distinct expansion) is the
    # only exchange pair. No Python, no join.
    info = plan_of(spark, sf_dir, "profile_column_stats")
    assert info["shuffles"] <= 2, f"profile: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    assert info["sortmerge_joins"] == 0 and info["broadcast_joins"] == 0


def test_geo_tile_join_geometry_adds_no_exchange(spark, sf_dir):
    # Tile-join capstone contract (mirrors geo_search_index's): the pyramid
    # assignment is a broadcast attach onto the wide attribute build — the
    # ONLY exchange is the per-geography aggregate the attributes inherently
    # cost (same count as pipeline_tile_wide's). Zero Python, no sort-merge.
    base = plan_of(spark, sf_dir, "pipeline_tile_wide")
    info = plan_of(spark, sf_dir, "geo_tile_join")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 1, f"tile assignment not broadcast ({bcast})"
    assert info["shuffles"] <= base["shuffles"], (
        f"geometry added exchanges: {info['shuffles']} vs "
        f"tile_wide's {base['shuffles']}"
    )
    assert info["sortmerge_joins"] == 0
    assert info["python_rows"] == 0 and info["arrow_python"] == 0


def test_geo_crosswalk_apportion_plan_shape(spark, sf_dir):
    # End-to-end crosswalk: both vintage shape tables broadcast; the
    # apportionment windows partition the WEIGHT TABLE (by source a, then
    # target b) and the only fact-side exchange is the source-measure
    # aggregation — 3 exchanges total, all over dimension-sized frames.
    import re as _re

    info = plan_of(spark, sf_dir, "geo_crosswalk_apportion")
    bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
    assert bcast >= 2, f"vintage cells / src measure not broadcast ({bcast})"
    assert info["shuffles"] <= 3, f"apportion: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
    for arglist in _re.findall(r"hashpartitioning\(([^)]*)\)", info["plan"]):
        keys = {
            a.strip().split("#")[0]
            for a in arglist.split(",")
            if not a.strip().isdigit()
        }
        keys.discard("")
        assert keys <= {"a", "b", "c_nationkey"}, arglist


def test_events_session_transitions_single_user_exchange(spark, sf_dir):
    # The shared-exchange pipeline claim, pinned: sessionization boundary
    # (lag ts) and transition pairing (lag type) ride ONE window spec, so
    # the plan has exactly one user_id exchange (plus the tiny matrix agg)
    # and ONE Window node — a second sort/exchange means the windows no
    # longer share, which is the regression this test forbids.
    import re as _re

    info = plan_of(spark, sf_dir, "events_session_transitions")
    parts = _re.findall(r"hashpartitioning\(([^)]*)\)", info["plan"])
    user_parts = [p for p in parts if "user_id" in p]
    assert len(user_parts) == 1, parts
    tree_windows = _re.findall(r"^\s*[:+\-* ]*\(\d+\) Window", info["plan"], _re.M)
    assert len(tree_windows) == 1, f"{len(tree_windows)} Window nodes"
    assert info["shuffles"] == 2, f"transitions: {info['shuffles']} shuffles"
    assert info["python_rows"] == 0 and info["arrow_python"] == 0
