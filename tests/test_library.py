"""Unit tests for the library primitives: asof_join tie semantics and the
sentinel-null ingest recode."""

from __future__ import annotations

from pyspark.sql import functions as F

from eviction_lab_etl_spark.functions.asof import asof_join
from eviction_lab_etl_spark.sources.sentinel import recode_sentinels


def test_asof_join_basic_and_exact_tie(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3"), (3, 7, "p4")],
        "k long, ts long, pid string",
    )
    right = spark.createDataFrame(
        # k=1: rows at ts 10 (exact tie with p1) and 15; k=2: only ts 6 (after p3)
        [(1, 10, "s_tie"), (1, 15, "s15"), (2, 6, "s_late")],
        "k long, ts long, sid string",
    )
    out = {
        r.pid: r.sid
        for r in asof_join(
            left, right, by="k", left_ts="ts", right_ts="ts", payload_cols=["sid"]
        ).collect()
    }
    assert out == {
        "p1": "s_tie",  # exact-timestamp right row IS visible (>= semantics)
        "p2": "s15",  # latest of the two candidates
        "p3": None,  # right row exists but is after the left ts
        "p4": None,  # no right rows in group
    }


def test_asof_join_tiebreak_between_right_rows(spark):
    left = spark.createDataFrame([(1, 10, "p")], "k long, ts long, pid string")
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 5, 200)], "k long, ts long, sid long"
    )
    [row] = asof_join(
        left, right, by="k", left_ts="ts", right_ts="ts", payload_cols=["sid"]
    ).collect()
    assert row.sid == 200  # equal right_ts resolves to greatest tiebreak


def test_recode_sentinels_numeric_and_blank(spark):
    df = spark.createDataFrame(
        [(1, -1.0, "x"), (2, 3.5, ""), (3, -1.0, "  "), (4, 0.0, "y"), (5, None, None)],
        "id long, rate double, name string",
    )
    out = recode_sentinels(df, ["rate", "name"]).orderBy("id").collect()
    assert [r.rate for r in out] == [None, 3.5, None, 0.0, None]
    assert [r.rate_was_coded for r in out] == [True, False, True, False, False]
    assert [r.name for r in out] == ["x", None, None, "y", None]
    assert [r.name_was_coded for r in out] == [False, True, True, False, False]


def test_recode_sentinels_fuses_into_scan(spark, sf_dir, tmp_path):
    """The recode is a projection: applying it adds no shuffle and no extra
    stage — same Exchange count as the raw aggregate."""
    from eviction_lab_etl_spark.plans.audit import audit_plan
    from eviction_lab_etl_spark.sources.loader import load

    li = load(spark, sf_dir, "lineitem")
    recoded = recode_sentinels(li, ["l_discount"], numeric_sentinel=0.0)
    agg = recoded.groupBy("l_returnflag").agg(
        F.count("l_discount").alias("n_real"),
        F.count_if(F.col("l_discount_was_coded")).alias("n_coded"),
    )
    assert audit_plan(agg)["shuffles"] == 1


def test_jaccard_prefix_filter_equals_naive(spark, sf_dir):
    """Prefix filtering is an exact optimization: identical pair set to the
    naive all-token inverted-index join (the sim_jaccard_pairs operator)."""
    from eviction_lab_etl_spark.functions.similarity import jaccard_pairs_prefix
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    fast = {
        (r.a, r.b, r.inter, r.uni)
        for r in jaccard_pairs_prefix(tokens, threshold=(6, 10)).collect()
    }
    naive = {
        (r.a, r.b, r.inter, r.uni)
        for r in QUERIES["sim_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert fast == naive


def test_jaccard_prefix_actually_prunes(spark, sf_dir):
    """The prefix index must be strictly smaller than the full token index —
    otherwise the 'optimization' indexes everything."""
    from eviction_lab_etl_spark.functions.similarity import _rarity_prefix
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    prefix_rows = _rarity_prefix(tok, (6, 10)).count()
    assert prefix_rows < tok.count() * 0.6


def test_jaccard_prefix_rejects_threshold_above_one(spark):
    """A threshold above 1 can never match, and the group expansion would
    emit J = 1 pairs regardless: a real error, not an ``assert`` that
    ``python -O`` strips."""
    import pytest

    from eviction_lab_etl_spark.functions.similarity import jaccard_pairs_prefix

    tok = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, w string")
    with pytest.raises(ValueError, match="11/10"):
        jaccard_pairs_prefix(tok, threshold=(11, 10))


def _doc_tokens(spark, sf_dir):
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )


def test_minhash_lsh_pairs_subset_and_recall(spark, sf_dir):
    """LSH-verified pairs must be a subset of the exact >=0.6-Jaccard set
    (verification is exact), with recall >= 0.95 (theory: ~0.9996 at b=32,
    r=3, s=0.6)."""
    from eviction_lab_etl_spark.functions.minhash import minhash_near_dup_pairs
    from eviction_lab_etl_spark.registry import QUERIES

    lsh = {
        (r.a, r.b, r.inter, r.uni)
        for r in minhash_near_dup_pairs(_doc_tokens(spark, sf_dir)).collect()
    }
    exact = {
        (r.a, r.b, r.inter, r.uni)
        for r in QUERIES["sim_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.95


def test_minhash_banding_prunes_far_pairs(spark):
    """On a corpus with disjoint documents plus a few exact duplicates, the
    candidate set must contain every duplicate pair and nearly none of the
    ~5000 zero-Jaccard pairs. (The parquet fixture can't test pruning: its
    docs share one tiny vocabulary, so almost every pair IS similar.)"""
    from eviction_lab_etl_spark.functions.minhash import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, f"t{i}_{j}") for i in range(100) for j in range(20)]
    rows += [(100 + i, f"t{i}_{j}") for i in range(5) for j in range(20)]  # dups
    tok = spark.createDataFrame(rows, "id long, w string")
    cand = {
        (r.a, r.b)
        for r in lsh_candidate_pairs(minhash_signatures(tok)).collect()
    }
    dup_pairs = {(i, 100 + i) for i in range(5)}
    assert dup_pairs <= cand  # identical docs always collide
    false_candidates = cand - dup_pairs
    assert len(false_candidates) <= 20, f"banding passed {len(false_candidates)} far pairs"


def test_pins_bookkeeping_never_resolves_columns(spark, monkeypatch):
    """Pin bookkeeping lives in a weak-keyed registry, not on the frame:
    pinning, adopting from pinned AND unpinned parents, and the release on
    GC all run without a single attribute miss on a DataFrame (a miss goes
    through ``__getattr__``, which resolves the name as a column)."""
    import gc

    from eviction_lab_etl_spark.functions.pins import adopt_pins, pin_to

    inner = spark.range(10).select((F.col("id") * 2).alias("x"))
    unpinned = spark.range(4)
    frame_cls = type(inner)

    def no_column_lookup(self, name):
        raise AssertionError(f"attribute miss resolved as column: {name}")

    monkeypatch.setattr(frame_cls, "__getattr__", no_column_lookup)
    lib_result = pin_to(spark.range(3), inner)
    out = adopt_pins(lib_result.select("id"), lib_result, unpinned)
    monkeypatch.undo()
    assert inner.is_cached
    del lib_result
    gc.collect()
    assert inner.is_cached  # the pins moved to `out`
    del out
    gc.collect()
    assert not inner.is_cached


def test_adopt_pins_twice_raises(spark):
    """A parent's pins can be adopted once: a second adoption would hand the
    second child no cache at all, so it raises instead of degrading to a
    silent recompute."""
    import pytest

    from eviction_lab_etl_spark.functions.pins import adopt_pins, pin_to

    inner = spark.range(10).select((F.col("id") * 2).alias("x"))
    parent = pin_to(spark.range(3), inner)
    first = adopt_pins(parent.select("id"), parent)
    with pytest.raises(ValueError, match="already adopted"):
        adopt_pins(parent.select("id"), parent)
    assert inner.is_cached
    del first


def test_pin_to_self_raises(spark):
    """A frame pinned to itself would be held strongly by its own
    finalizer, so it could never be collected and its cache never freed."""
    import pytest

    from eviction_lab_etl_spark.functions.pins import pin_to

    df = spark.range(3)
    with pytest.raises(ValueError, match="one of the pinned frames"):
        pin_to(df, spark.range(2), df)
    assert not df.is_cached


def _materializations(src: str) -> list[int]:
    """Line numbers of ``.persist(``/``.cache(``/``.checkpoint(``/
    ``.localCheckpoint(`` calls and of ``weakref.finalize`` — the cache and
    lineage-cut lifetimes that only functions/pins.py may decide."""
    import ast

    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in {"persist", "cache", "checkpoint", "localCheckpoint"}:
                hits.append(node.lineno)
        elif isinstance(node, ast.Attribute) and node.attr == "finalize":
            if isinstance(node.value, ast.Name) and node.value.id == "weakref":
                hits.append(node.lineno)
    return sorted(hits)


def test_materialization_detector():
    bad = (
        "df.persist()\n"
        "x = df.select('a').cache()\n"
        "df.checkpoint(eager=True)\n"
        "df.localCheckpoint()\n"
        "fin = weakref.finalize(df, print)\n"
    )
    assert _materializations(bad) == [1, 2, 3, 4, 5]
    ok = (
        "pin_to(out, groups)\n"
        "truncate(df)\n"
        "df.writeStream.option('checkpointLocation', p)\n"
        "df.unpersist()\n"
    )
    assert _materializations(ok) == []


def test_only_pins_module_materializes():
    """One materialization module: every persist, checkpoint and finalizer
    in the package goes through functions/pins.py (pin_to, adopt_pins,
    truncate), so one module decides how long a cached frame lives."""
    import glob
    import os

    import eviction_lab_etl_spark

    pkg = os.path.dirname(eviction_lab_etl_spark.__file__)
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("functions", "pins.py"):
            continue
        with open(path) as fh:
            offenders += [f"{rel}:{n}" for n in _materializations(fh.read())]
    assert not offenders, f"materialize through functions/pins.py: {offenders}"


def test_udtf_queries_leave_session_conf(spark, sf_dir):
    """Both UDTF queries request Arrow per function (useArrow=True), so
    running them leaves the session's pythonUDTF.arrow.enabled as it was:
    the Python boundary of later queries does not depend on query order."""
    from eviction_lab_etl_spark.registry import QUERIES

    key = "spark.sql.execution.pythonUDTF.arrow.enabled"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        for name in ("udtf_dynamic_schema", "udtf_explode_pos"):
            assert QUERIES[name](spark, sf_dir).count() > 0
            assert spark.conf.get(key) == "false", name
    finally:
        spark.conf.set(key, saved)


def test_minhash_family_spark_duck_identical(spark):
    """The one MinHash family is cross-engine: Spark's
    ``minhash_signatures`` and DuckDB's ``minhash_sig_duck`` give identical
    signatures, slot for slot, on adversarial tokens — the empty string,
    non-ASCII text, a quote, and tokens whose md5 prefix starts with 'f'
    (the top of the 60-bit hex parse) — both one token per doc and all of
    them in one doc (the min across tokens)."""
    import hashlib

    import duckdb

    from eviction_lab_etl_spark.functions.minhash import (
        minhash_sig_duck,
        minhash_signatures,
    )

    f_tokens = [
        w for w in (f"f{k}" for k in range(200))
        if hashlib.md5(f"0|{w}".encode()).hexdigest().startswith("f")
    ][:3]
    assert len(f_tokens) == 3
    words = ["", "ü", "日本語 テキスト", "it's", "\u00a0", "😀"] + f_tokens
    rows = [(i, w) for i, w in enumerate(words)]
    rows += [(100, w) for w in words]
    n = 48
    got = {
        r.id: list(r.sig)
        for r in minhash_signatures(
            spark.createDataFrame(rows, "id long, w string"), n_hashes=n
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE tk (doc_id BIGINT, w VARCHAR)")
    con.executemany("INSERT INTO tk VALUES (?, ?)", rows)
    want = {
        r[0]: list(r[1:]) for r in con.execute(minhash_sig_duck(n, "tk")).fetchall()
    }
    con.close()
    assert got == want
    assert len(got) == len(words) + 1


def test_minhash_permutations_stay_exact_bigint():
    """Every slot permutation (a·x + b) mod p is exact BIGINT arithmetic in
    both engines: the largest a_i·x + b_i over the 2^28 base range is
    below 2^63, and the constants are valid, distinct permutations."""
    from eviction_lab_etl_spark.functions.minhash import (
        MINHASH_PRIME,
        MINHASH_X_MOD,
        minhash_perm,
    )

    perms = [minhash_perm(i) for i in range(128)]
    assert all(1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME for a, b in perms)
    assert len({a for a, _ in perms}) == len(perms)
    assert max(a * (MINHASH_X_MOD - 1) + b for a, b in perms) < 1 << 63


def test_dedup_minhash_recall_floor(spark, sf_dir):
    """The registered 16×3 banding keeps its theoretical recall on the
    fixture: recall_pm >= 979, i.e. P[candidate | s = 0.6] = 1 − (1 −
    0.6³)¹⁶ ≈ 0.979 at the threshold itself (pairs above it collide more
    often)."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["dedup_minhash_recall"](spark, sf_dir).collect()[0]
    assert row.n_exact > 0
    assert row.recall_pm >= 979, row


def test_srp_banded_neardup_subset_and_recall(spark, sf_dir):
    """SRP-banded near-dup pairs must be a subset of the exact all-pairs
    cos>=0.9 set (verification is exact), with recall >= 0.9 — on the
    fixture's planted twins the measured recall is 1.0 (theory: per-pair
    ~0.9999 at b=8, r=8, cos~0.97)."""
    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.operators.dedup_text import cosine
    from eviction_lab_etl_spark.operators.extensions import _NEARDUP_COS
    from eviction_lab_etl_spark.registry import QUERIES

    banded = {(r.a, r.b) for r in QUERIES["sim_cosine_neardup"](spark, sf_dir).collect()}

    corpus = fixtures.embeddings_with_twins(spark, sf_dir)
    a, b = corpus.alias("a"), corpus.alias("b")
    exact = {
        (r.a, r.b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cosine(F.col("a.v"), F.col("b.v")) >= _NEARDUP_COS)
        .select(F.col("a.vec_id").alias("a"), F.col("b.vec_id").alias("b"))
        .collect()
    }
    assert banded <= exact
    assert exact, "fixture must contain planted twins"
    assert len(banded) / len(exact) >= 0.9


def test_srp_banding_prunes_candidates(spark, sf_dir):
    """The SRP candidate set must be a small fraction of the O(n^2) pair
    space — otherwise the banding is not pruning anything."""
    from eviction_lab_etl_spark.functions.srp import srp_candidate_pairs, srp_planes
    from eviction_lab_etl_spark.sources.loader import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = emb.count()
    planes = srp_planes(64, 64)
    n_cand = srp_candidate_pairs(emb, planes, bands=8, rows=8, id_col="id").count()
    assert n_cand <= 0.25 * n * (n - 1) / 2, (
        f"{n_cand} candidates out of {n * (n - 1) // 2} pairs — no pruning"
    )


def test_ivf_multiprobe_recall_vs_exact_knn(spark, sf_dir):
    """Trained spherical-k-means IVF (k=8, nprobe=2) must recover >= 0.95 of
    the exact cosine top-3 neighbor set on the clustered fixture corpus
    (measured 1.0 — the trained codebook keeps each planted cluster's
    members co-bucketed; the old first-8-vectors stand-in capped near 0.75
    and isotropic-noise input makes any recall number meaningless). Exact
    ground truth is computed independently in numpy, not by another Spark
    query."""
    import numpy as np

    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.registry import QUERIES

    corpus = (
        fixtures.embeddings_clustered(spark, sf_dir)
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = corpus.vec_id.values
    E = np.vstack(corpus.embedding.values)
    E = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = E @ E.T
    id_to_row = {v: i for i, v in enumerate(ids)}
    exact = set()
    for vid in range(10):
        i = id_to_row[vid]
        sims = S[i].copy()
        sims[i] = -2.0
        for t in np.argsort(-sims)[:3]:
            exact.add((vid, int(ids[t])))
    ivf = {(r.vid, r.nbr) for r in QUERIES["ann_ivf"](spark, sf_dir).collect()}
    assert exact
    assert len(ivf & exact) / len(exact) >= 0.95


def test_ann_ivf_recall_query_floor(spark, sf_dir):
    """The hash-checked sampled-codebook recall query must report aggregate
    recall@3 >= 0.9 over the 10-probe panel (measured 29/30 = 0.967) with
    n_exact = 3 for every probe — the driver hash pins the exact numbers;
    this pins the statistical claim they encode."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["ann_ivf_recall"](spark, sf_dir).collect()
    assert {r.vid for r in rows} == set(range(10))
    assert all(r.n_exact == 3 for r in rows)
    assert sum(r.n_hits for r in rows) / sum(r.n_exact for r in rows) >= 0.9


def test_sessionize_two_phase_bucket_boundaries(spark):
    """The two-phase sessionizer must agree with native session_window on
    exactly the inputs where bucketing could go wrong: a session straddling
    midnight, a chain spanning THREE day buckets (merge must be transitive
    across the running max), an exact-gap tie (Spark MERGES an event at
    exactly last_ts + gap — closed interval end, pinned here), and
    single-event sessions at bucket edges. Tiny 1-minute buckets make every
    session cross multiple buckets."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.streaming.batch_windows import (
        sessionize_two_phase,
    )

    rows = [
        # user 1: chain 23:45 -> 00:10 -> 00:35 (crosses midnight, 25-min
        # gaps), then 01:05 at EXACTLY 30 min — merges (closed interval end)
        (1, "2024-01-01 23:45:00"),
        (1, "2024-01-02 00:10:00"),
        (1, "2024-01-02 00:35:00"),
        (1, "2024-01-02 01:05:00"),
        # user 2: single events 31 min apart -> three singleton sessions
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:31:00"),
        (2, "2024-01-01 01:02:00"),
        # user 3: dense run, one session of 5 events
        (3, "2024-01-01 12:00:00"),
        (3, "2024-01-01 12:05:00"),
        (3, "2024-01-01 12:10:00"),
        (3, "2024-01-01 12:39:00"),
        (3, "2024-01-01 13:08:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    native = {
        (r.user_id, r.s, r.n_events)
        for r in ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("st"))
        .select("user_id", F.unix_micros("st").alias("s"), "n_events")
        .collect()
    }
    for bucket_minutes in (1, 60, 1440):
        two_phase = {
            (r.user_id, r.s, r.n_events)
            for r in sessionize_two_phase(ev, bucket_minutes=bucket_minutes)
            .select("user_id", F.unix_micros("start_ts").alias("s"), "n_events")
            .collect()
        }
        assert two_phase == native, f"bucket_minutes={bucket_minutes}"
    # the midnight-straddling chain swallows the exact-gap event: 4, not 3+1
    assert (1, 1704152700000000, 4) in native
    assert len([t for t in native if t[0] == 2]) == 3  # 31-min gaps split


def test_contam_hashed_equals_exact(spark, sf_dir):
    """The hashed-gram contamination variant must emit exactly the string
    form's (doc_id, n_grams, n_hit) rows on the fixture corpus — the
    only divergence channel is a 64-bit xxhash collision, which this data
    does not contain (and whose corpus-scale probability is ~n²/2⁶⁵)."""
    from eviction_lab_etl_spark.operators.training import (
        contam_ngram_hashed,
        contam_ngram_overlap,
    )

    exact = contam_ngram_overlap(spark, sf_dir)
    hashed = contam_ngram_hashed(spark, sf_dir)
    assert exact.columns == hashed.columns
    assert exact.exceptAll(hashed).count() == 0
    assert hashed.exceptAll(exact).count() == 0


# ---- Bloom runtime filter (functions/bloom.py) ------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_BLOOM_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    members=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=1,
        max_size=40, unique=True,
    ),
    probes_extra=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), max_size=40,
        unique=True,
    ),
)
@_BLOOM_SETTINGS
def test_bloom_never_false_negative(spark, members, probes_extra):
    """The load-bearing Bloom guarantee: EVERY member key passes the probe,
    for arbitrary (including negative) keys — this is what makes pruning
    before an exact join result-invariant, and hence what lets
    `join_bloom_pruned` be hash-checked against the un-bloomed oracle.
    Non-members may pass (false positives are I/O, not correctness)."""
    from eviction_lab_etl_spark.functions.bloom import bloom_build, bloom_prune

    keys = spark.createDataFrame([(k,) for k in members], "key long")
    bloom = bloom_build(keys, "key")
    fact = spark.createDataFrame(
        [(k,) for k in set(members) | set(probes_extra)], "key long"
    )
    kept = {r.key for r in bloom_prune(fact, bloom, "key").collect()}
    assert set(members) <= kept


def test_bloom_build_rejects_unpacked_m_bits(spark):
    """m_bits must pack into 64-bit words; the contract is a ValueError (an
    assert would vanish under python -O and the violating build would run
    with a partial top word)."""
    import pytest as _pytest

    from eviction_lab_etl_spark.functions.bloom import bloom_build

    keys = spark.range(0, 4).withColumnRenamed("id", "key")
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(keys, "key", m_bits=100)


def test_bloom_probe_hashes_each_seed_once(spark):
    """The probe predicate embeds each seed's xxhash64 position expression
    exactly once (bound by the forall lambda), so a row costs 3 hashes, not
    6-and-hope-for-subexpression-elimination."""
    from eviction_lab_etl_spark.functions.bloom import bloom_might_contain

    expr_sql = str(bloom_might_contain("key")._jc)
    assert expr_sql.lower().count("xxhash64") == 3, expr_sql


def test_bloom_prunes_disjoint_keys(spark):
    """Selectivity: with m=4096 bits / k=3 probes and ~50 member keys, a
    disjoint probe set is mostly rejected (expected FP rate ~(1-e^{-kn/m})^k
    < 0.01% here; assert a loose <10% so the test never flakes). This is the
    measurable half of the runtime-filter claim: non-matching fact rows drop
    BEFORE the join."""
    from eviction_lab_etl_spark.functions.bloom import bloom_build, bloom_prune

    members = spark.range(0, 50).withColumnRenamed("id", "key")
    outsiders = spark.range(1_000_000, 1_002_000).withColumnRenamed("id", "key")
    bloom = bloom_build(members, "key")
    kept = bloom_prune(outsiders, bloom, "key").count()
    assert kept < 200, f"bloom kept {kept}/2000 disjoint keys"


# ---- Length-blocked fuzzy join (join_fuzzy_blocked's construction) ----------


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@given(
    names=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=6), min_size=1,
        max_size=12, unique=True,
    )
)
@_BLOOM_SETTINGS
def test_length_blocking_is_lossless(spark, names):
    """The blocking identity behind join_fuzzy_blocked: candidate pairs
    equi-joined on exploded lengths [len-d, len+d] then filtered by exact
    levenshtein <= d must equal the brute-force quadratic answer — i.e. the
    length band never drops a true pair (lev<=d implies |len diff|<=d).
    Randomized over short strings including duplicates-by-length, empties,
    and unequal lengths."""
    from eviction_lab_etl_spark.functions.similarity import fuzzy_blocked_pairs

    d = 2
    df = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_blocked_pairs(df, "p_name", max_dist=d).collect()
    }
    want = {
        (a, b, _py_lev(a, b))
        for a in names
        for b in names
        if a < b and _py_lev(a, b) <= d
    }
    assert got == want


def test_containment_prefix_equals_naive(spark, sf_dir):
    """One-sided prefix filtering is an exact optimization: identical
    directed pair set to the naive all-token inverted-index join at the
    same threshold and probe restriction."""
    from eviction_lab_etl_spark.functions.similarity import (
        containment_pairs_prefix,
    )
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    fast = {
        (r.src, r.dst, r.inter, r.n_src)
        for r in containment_pairs_prefix(
            tok, id_col="id", threshold=(9, 10),
            probe_filter=F.col("id") < 50,
        ).collect()
    }
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    t1, t2 = tok.alias("t1"), tok.alias("t2")
    naive = {
        (r.src, r.dst, r.inter, r.n_src)
        for r in (
            t1.filter(F.col("id") < 50)
            .join(
                t2,
                (F.col("t1.w") == F.col("t2.w"))
                & (F.col("t1.id") != F.col("t2.id")),
            )
            .groupBy(F.col("t1.id").alias("src"), F.col("t2.id").alias("dst"))
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.alias("sa"), F.col("src") == F.col("sa.id"))
            .filter(10 * F.col("inter") >= 9 * F.col("sa.n"))
            .select("src", "dst", "inter", F.col("sa.n").alias("n_src"))
        ).collect()
    }
    assert fast == naive


def test_containment_prefix_python_brute_force(spark):
    """Completeness on adversarial tiny sets: the one-sided prefix must
    admit every pair the brute-force containment check finds, across
    random token universes (including heavy-overlap and subset cases)."""
    import itertools
    import random

    from eviction_lab_etl_spark.functions.similarity import (
        containment_pairs_prefix,
    )

    rng = random.Random(1234)
    vocab = [f"t{i}" for i in range(12)]
    docs = {}
    for did in range(14):
        k = rng.randint(1, 8)
        docs[did] = frozenset(rng.sample(vocab, k))
    # plant exact subset pairs — the case the operator exists for
    docs[20] = frozenset(list(docs[0])[: max(1, len(docs[0]) // 2)])
    docs[21] = docs[1]
    rows = [(did, w) for did, ws in docs.items() for w in ws]
    tok = spark.createDataFrame(rows, "id int, w string")
    got = {
        (r.src, r.dst)
        for r in containment_pairs_prefix(
            tok, id_col="id", threshold=(4, 5)
        ).collect()
    }
    want = {
        (a, b)
        for a, b in itertools.permutations(docs, 2)
        if 5 * len(docs[a] & docs[b]) >= 4 * len(docs[a])
    }
    assert got == want


def test_split_cluster_safe_zero_straddle(spark, sf_dir):
    """The leakage invariant `split_cluster_safe` exists for: no near-dup
    cluster contributes docs to more than one fold, and the fold rule
    agrees with split_content_hash's nibble convention applied to the
    cluster id."""
    from eviction_lab_etl_spark.operators.clustering import (
        connected_components,
        neardup_edges,
    )
    from eviction_lab_etl_spark.sources.loader import load

    labels = {
        r.v: r.lbl
        for r in connected_components(neardup_edges(spark, sf_dir)).collect()
    }
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .collect()
    )
    import hashlib

    folds = {}
    for r in docs:
        cluster = labels.get(r.doc_id, r.doc_id)
        nib = hashlib.md5(str(cluster).encode()).hexdigest()[0]
        fold = "train" if nib < "c" else ("valid" if nib < "e" else "test")
        folds.setdefault(cluster, set()).add(fold)
    straddlers = {c: f for c, f in folds.items() if len(f) > 1}
    assert not straddlers, straddlers
    # sanity: at least one multi-doc cluster exists, else the test is vacuous
    from collections import Counter

    sizes = Counter(labels.values())
    assert any(v >= 2 for v in sizes.values())


# ---- MMR rerank library (functions/rerank.py) -------------------------------


def _py_mmr(items, k):
    """Pure-Python greedy MMR replica mirroring the library's arithmetic
    EXACTLY (left-to-right double folds, rel − max-sim objective, strict >
    with ascending-id iteration = id tiebreak). items: [(id, vec, rel)]."""
    import math

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    remaining = {i: (v, r) for i, v, r in items}
    sel_vecs, out = [], []
    while len(out) < k and remaining:
        best_id, best_score = None, None
        for i in sorted(remaining):
            v, r = remaining[i]
            pen = max((cos(v, s) for s in sel_vecs), default=0.0)
            score = float(r) - pen
            if best_score is None or score > best_score:
                best_id, best_score = i, score
        v, _ = remaining.pop(best_id)
        sel_vecs.append(v)
        out.append((best_id, len(out) + 1))
    return out


@given(
    items=st.lists(
        st.tuples(
            st.lists(st.integers(-4, 4), min_size=3, max_size=3).filter(
                lambda v: any(v)
            ),
            st.integers(-5, 5),
        ),
        min_size=2,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mmr_rerank_equals_python_greedy(spark, items, k):
    """`mmr_rerank` (parametric k, round-7 verdict item 6) against the
    pure-Python greedy on adversarial candidate sets — duplicate vectors,
    exact rel ties (integer grid ⇒ tie-or-gap, never float ambiguity;
    both sides run the identical left-to-right double folds), and k beyond
    the candidate count (the early-stop contract). The registered
    `search_mmr_diverse` stays the k=5 real-data binding; this pins the
    generalization."""
    from eviction_lab_etl_spark.functions.rerank import mmr_rerank

    rows = [(i, [float(x) for x in vec], float(rel))
            for i, (vec, rel) in enumerate(items)]
    cand = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>, rel double"
    )
    got = [(r.doc_id, r.rnk) for r in
           mmr_rerank(cand, k=k).orderBy("rnk").collect()]
    want = [(i, rk) for i, rk in _py_mmr(
        [(i, v, r) for i, v, r in rows], k)]
    assert got == want


def test_mmr_rerank_rejects_bad_args(spark):
    import pytest as _pytest

    from eviction_lab_etl_spark.functions.rerank import mmr_rerank

    cand = spark.createDataFrame(
        [(0, [1.0], 1.0)], "doc_id long, embedding array<double>, rel double"
    )
    with _pytest.raises(ValueError, match="k must be"):
        mmr_rerank(cand, k=0)
    with _pytest.raises(ValueError, match="collide"):
        mmr_rerank(cand.withColumn("rnk", F.lit(1)), k=1)


def test_semantic_dedup_recall_vs_global_exact(spark, sf_dir):
    """Cluster-scoped pruning must not cost recall on the planted fixture:
    every vec the GLOBAL exact quantized-cosine >= 0.9 join marks as a
    lower-id's duplicate must be dropped by the nprobe=2 multi-probe scoping
    too (single-probe measured 36/50 — the Voronoi-boundary loss)."""
    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.operators.embeddings import (
        _SEM_DEN,
        _SEM_NUM,
        semantic_dedup,
    )

    corpus = fixtures.embeddings_with_twins(spark, sf_dir)
    out = semantic_dedup(corpus)
    dropped = {r.vec_id for r in out.filter(~F.col("kept")).collect()}

    n = corpus.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.floor(x.cast("double") * 1000).cast("long")
        ).alias("q"),
    ).withColumn(
        "n2",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, v: acc + v * v),
    )
    pa, pb = n.alias("pa"), n.alias("pb")
    dot = F.aggregate(
        F.zip_with(F.col("pa.q"), F.col("pb.q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    global_dups = {
        r.b
        for r in pa.join(pb, F.col("pa.vec_id") < F.col("pb.vec_id"))
        .filter(
            (dot >= 0)
            & (
                F.lit(_SEM_DEN) * dot * dot
                >= F.lit(_SEM_NUM) * F.col("pa.n2") * F.col("pb.n2")
            )
        )
        .select(F.col("pb.vec_id").alias("b"))
        .distinct()
        .collect()
    }
    assert global_dups, "fixture lost its planted twins"
    # Soundness is unconditional: every drop is a true global near-dup
    # (the bucket scoping can only MISS pairs, never invent them).
    assert dropped <= global_dups, f"false drops: {dropped - global_dups}"
    # Recall floor: the multi-probe scoping keeps boundary loss to at most
    # one twin on the shipped fixtures (measured 50/50 at sf0.01, 49/50 at
    # sf0.001; single-probe loses 14 — the gap nprobe=2 exists to close).
    assert len(dropped) >= len(global_dups) - 1, (
        f"recall gap: global={len(global_dups)} dropped={len(dropped)}"
    )


def test_nextfit_pack_invariants(spark, sf_dir):
    """Structural packing invariants, independent of the oracle replica:
    no bin exceeds capacity unless it holds exactly one oversize document,
    within-bin positions are contiguous from 0, and bin indices are
    contiguous from 0 per shard (next-fit never skips a bin)."""
    from eviction_lab_etl_spark.operators.training import (
        _PACK_CAP,
        nextfit_pack,
    )
    from eviction_lab_etl_spark.sources.loader import load

    rows = nextfit_pack(load(spark, sf_dir, "documents")).collect()
    assert rows
    bins: dict = {}
    for r in rows:
        bins.setdefault((r.shard, r.bin_idx), []).append(r)
    for (shard, b), docs in bins.items():
        total = sum(r.n_tok for r in docs)
        if total > _PACK_CAP:
            assert len(docs) == 1, (
                f"overfull multi-doc bin {shard}/{b}: {total}"
            )
        assert sorted(r.pos_in_bin for r in docs) == list(range(len(docs)))
    for shard in {s for s, _ in bins}:
        idxs = sorted(b for s, b in bins if s == shard)
        assert idxs == list(range(len(idxs))), f"shard {shard} skips bins"


def test_search_ivfpq_recall_floor(spark, sf_dir):
    """The IVF scoping must not cost recall on the clustered fixture: the
    probe's cluster co-locates in its coarse cell (the premise of IVF on
    structured data), so the scoped ADC top-10 recovers >= 9 of the full
    ADC scan's top-10 (measured 10/10 at sf0.001 and sf0.01 — the driver
    hash pins the exact row; this pins the statistical claim)."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["search_ivfpq_recall"](spark, sf_dir).collect()[0]
    assert row.n_full == 10
    assert row.n_hits >= 9


def test_search_ivfpq_topk_is_subset_of_full_adc(spark, sf_dir):
    """Every IVF-PQ hit must carry the SAME ADC score the unscoped scan
    assigns it (scoping filters candidates, never rescores), and the probe
    itself (vec_id 0, ADC 0 against its own codes' table entries... its own
    cell is always probed) must rank first."""
    from eviction_lab_etl_spark.operators.embeddings import _ivfpq_scored
    from eviction_lab_etl_spark.registry import QUERIES

    top = QUERIES["search_ivfpq_topk"](spark, sf_dir).collect()
    full = {
        r["vec_id"]: r["adc_q"]
        for r in _ivfpq_scored(spark, sf_dir).collect()
    }
    assert top[0].vec_id == 0  # the probe's own codes minimize its ADC
    for r in top:
        assert full[r.vec_id] == r.adc_q
    assert [r.rnk for r in top] == list(range(1, 11))


def test_normalize_inverts_messy_fixture(spark, sf_dir):
    """The messy fixture is built so the normalize chain recovers the
    ORIGINAL text exactly (norm ∘ mess = id) — every fold (case, diacritic,
    punctuation, whitespace) must fire and fully undo; one surviving comma
    or double space breaks equality on every row."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.operators.cleaning import normalize_text
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    norm = fixtures.documents_messy(spark, sf_dir).select(
        "doc_id", normalize_text("raw").alias("norm")
    )
    bad = (
        docs.join(norm, "doc_id")
        .filter(F.col("norm") != F.col("text"))
        .count()
    )
    assert bad == 0
    assert norm.count() == docs.count()


def test_normalize_fold_table_cross_engine(spark):
    """Pin the FULL fold table engine-vs-engine: a crafted probe containing
    every _EXPAND key, every _FOLD_1TO1 key, every _COMBINING mark (planted
    after an ASCII letter, NFKD-style), and the uppercase forms of a
    representative fold set must normalize to the identical string in Spark
    (normalize_text) and DuckDB (_NORM_SQL) AND to the expectation computed
    straight from the tables — the fixture can only plant what its
    vocabulary contains; this is the coverage pin for the rest of the map
    (ß, æ, œ, ĳ, þ, the full Latin ranges, full-width digits)."""
    import duckdb

    from eviction_lab_etl_spark.operators import cleaning as C

    probe = " ".join(
        list(C._EXPAND)
        + list(C._FOLD_1TO1)
        + ["x" + m for m in C._COMBINING]
        + ["ÀÉÎÕŪÝÑÇŁＷ５"]  # uppercase / full-width forms (lower() leg)
    )
    expect = " ".join(
        list(C._EXPAND.values())
        + list(C._FOLD_1TO1.values())
        + ["x"] * len(C._COMBINING)
        + ["aeiouynclw5"]
    )
    df = spark.createDataFrame([(probe,)], "raw string")
    got_spark = df.select(C.normalize_text("raw").alias("n")).collect()[0].n
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT {C._NORM_SQL.format(col='?')}"  # noqa: S608
        .replace("lower(?)", "lower($probe)"),
        {"probe": probe},
    ).fetchone()[0]
    assert got_spark == expect
    assert got_duck == expect


def test_dedup_exact_normalized_collapses_every_twin(spark, sf_dir):
    """Every normalized group must keep a RAW-side doc (keep < 100000: the
    messy twin can never win the min-id election) and cover the full
    corpus: sum of group sizes == n_raw + n_messy (no orphan singletons —
    each messy doc collapses onto at least its own original)."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    n_docs = load(spark, sf_dir, "documents").count()
    grps = QUERIES["dedup_exact_normalized"](spark, sf_dir)
    agg = grps.agg(
        F.max("keep").alias("mx"), F.sum("grp_size").alias("covered")
    ).collect()[0]
    assert agg.mx < 100000
    assert agg.covered == 2 * n_docs


def test_dedup_incremental_indexed_matches_inline(spark, sf_dir):
    """The committed-index probe path must be answer-identical to the
    inline-build path — the index changes I/O, never the ledger (same
    oracle pins both driver rows; this pins them against each other
    row-for-row)."""
    from eviction_lab_etl_spark.registry import QUERIES

    inline = sorted(
        map(tuple, QUERIES["dedup_incremental_batch"](spark, sf_dir).collect())
    )
    indexed = sorted(
        map(tuple, QUERIES["dedup_incremental_indexed"](spark, sf_dir).collect())
    )
    assert inline == indexed
    assert len(inline) > 0


def test_search_sq8_recall_floor(spark, sf_dir):
    """SQ8 is the near-full-accuracy codec (255 levels per dim vs PQ's 4
    codewords per subspace), so the asymmetric scan must recover >= 9 of
    the exact top-10 (measured 10/10 at sf0.001, 9/10 at sf0.01 — the
    driver hash pins the exact row; this pins the statistical claim)."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["search_sq8_recall"](spark, sf_dir).collect()[0]
    assert row.n_exact == 10
    assert row.n_hits >= 9


def test_search_sq8_rerank_repairs_recall(spark, sf_dir):
    """The two-stage rerank must dominate the plain SQ8 cut: rerank
    recall@10 >= plain recall@10, and on this fixture it reaches 10/10
    where the plain scan measures 9/10 (the rerank recovers exactly the
    one vector quantization error displaced out of the top-10 — the C≫k
    margin argument made measurable). Also pins that the reranked top-k's
    final ordering is by exact distance: rnk is dense 1..10."""
    from eviction_lab_etl_spark.registry import QUERIES

    rr = QUERIES["search_sq8_rerank_recall"](spark, sf_dir).collect()[0]
    plain = QUERIES["search_sq8_recall"](spark, sf_dir).collect()[0]
    assert rr.n_exact == 10
    assert rr.n_hits >= plain.n_hits
    assert rr.n_hits == 10
    top = QUERIES["search_sq8_rerank"](spark, sf_dir).collect()
    assert [r.rnk for r in top] == list(range(1, 11))
    assert top[0].vec_id == 0


def test_search_sq8_topk_probe_ranks_first(spark, sf_dir):
    """The probe's distance to its own dequantized codes is the pure
    reconstruction error — the corpus minimum (every other vector adds a
    true-distance term on top), so vec_id 0 must rank first and the rnk
    column must be the dense 1..10."""
    from eviction_lab_etl_spark.registry import QUERIES

    top = QUERIES["search_sq8_topk"](spark, sf_dir).collect()
    assert top[0].vec_id == 0
    assert [r.rnk for r in top] == list(range(1, 11))


def test_contam_normalized_catches_planted_missed_raw(spark, sf_dir):
    """The planted contamination (bench docs' messy re-crawls, ids
    >= 300000) must be FULLY caught by the normalized gate (n_hit_norm ==
    n_grams on every planted doc) and completely missed by the raw-gram
    gate (n_hit_raw == 0 corpus-wide: every messy gram differs from every
    clean gram by case or an injected token) — the delta the operator
    exists to demonstrate."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES

    df = QUERIES["contam_normalized"](spark, sf_dir)
    planted = df.filter(F.col("doc_id") >= 300000)
    agg = planted.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(
            (F.col("n_hit_norm") == F.col("n_grams")).cast("int")
        ).alias("full"),
    ).collect()[0]
    assert agg.docs > 0
    assert agg.full == agg.docs
    assert df.agg(F.sum("n_hit_raw")).collect()[0][0] == 0


def test_search_ivfsq_recall_floor(spark, sf_dir):
    """The IVF scoping must not cost recall on the clustered fixture (the
    search_ivfpq_recall premise, SQ8 scoring): measured 10/10 at sf0.001
    and sf0.01 — the driver hash pins the exact row; this pins the
    statistical claim at >= 9."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["search_ivfsq_recall"](spark, sf_dir).collect()[0]
    assert row.n_full == 10
    assert row.n_hits >= 9


def test_search_ivfsq_topk_is_subset_of_full_scan(spark, sf_dir):
    """Every IVF-SQ hit must carry the SAME asymmetric SQ8 distance the
    unscoped scan assigns it (scoping filters candidates, never rescores),
    and the probe must rank first (its own cell is always probed; its
    distance to its own codes is the pure reconstruction error)."""
    from eviction_lab_etl_spark.operators.embeddings import _ivfsq_scored
    from eviction_lab_etl_spark.registry import QUERIES

    top = QUERIES["search_ivfsq_topk"](spark, sf_dir).collect()
    full = {
        r["vec_id"]: r["d_sq8"]
        for r in _ivfsq_scored(spark, sf_dir).collect()
    }
    assert top[0].vec_id == 0
    for r in top:
        assert full[r.vec_id] == r.d_sq8
    assert [r.rnk for r in top] == list(range(1, 11))


def test_text_bpe_encode_counts_bounded_by_training(spark, sf_dir):
    """Per-doc BPE token counts must be >= the whitespace word count (only
    3 merges trained — most chars stay singleton tokens) and <= the
    character count, and the encode join must be TOTAL (500 docs out — the
    vocabulary was trained on this corpus, so no word can miss)."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    enc = QUERIES["text_bpe_encode"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    joined = enc.join(docs, "doc_id")
    bad = joined.filter(
        (F.col("n_bpe_tok") < F.col("n_words"))
        | (F.col("n_bpe_tok") > F.col("n_chars"))
    ).count()
    assert bad == 0
    assert enc.count() == docs.count()


def test_pack_bins_bpe_respects_capacity_on_bpe_counts(spark, sf_dir):
    """The BPE-count packing must satisfy the same invariants as the
    whitespace variant — per (shard, bin) fill <= 128 unless the bin holds
    a single oversized doc; positions contiguous from 0; bin ids contiguous
    per shard — but measured on the TRAINED-BPE counts."""
    from collections import defaultdict

    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["pack_bins_bpe"](spark, sf_dir).collect()
    bins = defaultdict(list)
    for r in rows:
        bins[(r.shard, r.bin_idx)].append(r)
    for (shard, b), docs in bins.items():
        fill = sum(r.n_tok for r in docs)
        if fill > 128:
            assert len(docs) == 1, f"bin ({shard},{b}) overfilled with {len(docs)} docs"
        assert sorted(r.pos_in_bin for r in docs) == list(range(len(docs)))
    for shard in {s for s, _ in bins}:
        idxs = sorted(b for s, b in bins if s == shard)
        assert idxs == list(range(len(idxs))), f"shard {shard} skips bins"


def test_dedup_incremental_batch_rejects_planted_recrawls(spark, sf_dir):
    """All 25 planted mutated re-crawls (same text + one appended token,
    Jaccard ~ n/(n+1) >> 0.9) must be rejected; every batch doc appears in
    the ledger exactly once; n_near <= n_cand; admitted == (n_near == 0)."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["dedup_incremental_batch"](spark, sf_dir).collect()
    assert len(rows) == 125
    assert len({r.doc_id for r in rows}) == 125
    for r in rows:
        assert 0 <= r.n_near <= r.n_cand
        assert r.admitted == (1 if r.n_near == 0 else 0)
    recrawls = [r for r in rows if r.doc_id >= 200000]
    assert len(recrawls) == 25
    assert all(r.admitted == 0 for r in recrawls)


def test_minhash_batch_matches_constructed_example(spark):
    """Asymmetric banding on a constructed corpus: an exact copy and a
    one-token superset both match (Jaccard 1.0 and n/(n+1)); a disjoint doc
    yields no candidate at all."""
    from eviction_lab_etl_spark.functions.minhash import minhash_batch_matches

    corpus_words = [f"w{i}" for i in range(30)]
    corpus = spark.createDataFrame(
        [(1, w) for w in corpus_words], "id long, w string"
    )
    batch = spark.createDataFrame(
        [(101, w) for w in corpus_words]              # exact copy
        + [(102, w) for w in corpus_words + ["extra"]]  # near-dup superset
        + [(103, w) for w in ["x1", "x2", "x3"]],       # disjoint
        "id long, w string",
    )
    out = {
        (r.b, r.a): (r.inter, r.uni, r.near)
        for r in minhash_batch_matches(
            batch, corpus, threshold=(9, 10), bands=16, rows_per_band=3
        ).collect()
    }
    assert out[(101, 1)] == (30, 30, 1)
    assert out[(102, 1)] == (30, 31, 1)
    assert not any(b == 103 for b, _ in out)


def test_dedup_semantic_wide_branch_full_twin_recall(spark, sf_dir):
    """The k=24 wide-codebook branch (k-row broadcast + window top-nprobe)
    must behave like the fold branch where it counts: all 50 planted twins
    dropped at nprobe=2, nothing else dropped (the isotropic base corpus
    has no organic cos >= 0.9 pairs), and the branch actually taken is the
    window path (k > wide_max_k)."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["dedup_semantic_wide"](spark, sf_dir)
    agg = rows.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("vec_id") >= 100000) & (~F.col("kept")), 1).otherwise(0)
        ).alias("twin_drops"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("total_drops"),
    ).collect()[0]
    assert agg.n == 350
    assert agg.twin_drops == 50
    assert agg.total_drops == 50


def test_contam_bloom_gate_actually_prunes(spark, sf_dir):
    """The decontamination bloom must do its job on the fixture: the
    survivor stream entering the exact join is a small fraction of the
    train gram stream (pruning is the operator's reason to exist), yet
    still a superset of the true hits (no false negatives — the property
    that makes the oracle the un-bloomed exact spec)."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.functions.bloom import bloom_build, bloom_prune
    from eviction_lab_etl_spark.operators.training import (
        _CONTAM_BLOOM_BITS,
        _N,
    )
    from eviction_lab_etl_spark.sources.loader import load

    docs = load(spark, sf_dir, "documents")
    w = F.col("toks")
    grams = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size(w) >= _N,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - (_N - 1)),
                        lambda i: F.xxhash64(F.slice(w, i, _N)),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    bloom = bloom_build(bench, "gram", m_bits=_CONTAM_BLOOM_BITS)
    survivors = bloom_prune(train, bloom, "gram", m_bits=_CONTAM_BLOOM_BITS)
    n_train = train.count()
    n_surv = survivors.count()
    n_true = train.join(bench, "gram", "semi").count()
    assert n_true <= n_surv, "bloom dropped a true hit (false negative)"
    assert 10 * n_surv < n_train, (
        f"no pruning: {n_surv} survivors of {n_train} train grams"
    )


def test_span_remove_keep_first_semantics(spark, sf_dir):
    """The removal ledger honors keep-first: every +100000-keyed verbatim
    copy collapses to the empty string (all its spans are owned by the
    original), every original with doc_id < 25 rounds trip unchanged (it
    OWNS its spans), and totals satisfy n_removed <= n_toks with
    clean_text's token count = n_toks - n_removed."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["text_dup_span_remove"](spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    docs = {
        r.doc_id: r.text
        for r in __import__(
            "eviction_lab_etl_spark.fixtures", fromlist=["fixtures"]
        ).documents_with_dups(spark, sf_dir).collect()
    }
    copies = [r for r in rows if r.doc_id >= 100000]
    assert copies, "fixture lost its planted copies"
    for r in copies:
        # a verbatim copy of a >=8-token original loses everything
        if r.n_toks >= 8:
            assert r.clean_text == "" and r.n_removed == r.n_toks, r
    for r in rows:
        if r.doc_id < 25 and r.n_toks >= 8:
            # the original owns its spans: untouched unless some OTHER
            # lower-id doc shares a span organically (doc_id<25 are the
            # lowest ids, so only another doc_id<25 could — allow it but
            # require the planted pair rule to hold for the clean ones)
            if r.n_removed == 0:
                assert r.clean_text == docs[r.doc_id], r.doc_id
        n_clean = len(r.clean_text.split(" ")) if r.clean_text else 0
        assert n_clean == r.n_toks - r.n_removed, r


def test_hard_negatives_are_true_negatives(spark, sf_dir):
    """Every mined hard negative genuinely misses >= 1 of its query's
    terms (checked against the raw text, not the operator's own matched
    count), every query emits a full top-5, and the positive filter is
    non-vacuous: each query has at least one all-terms doc that was
    therefore excluded."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.operators.pipelines import HN_QUERIES
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    rows = QUERIES["search_hard_negatives"](spark, sf_dir).collect()
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in load(spark, sf_dir, "documents").collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    terms_of = {qid: set(ts) for qid, ts in HN_QUERIES}
    assert set(by_q) == set(terms_of)
    for qid, terms in terms_of.items():
        got = by_q[qid]
        assert len(got) == 5 and sorted(r.rnk for r in got) == [1, 2, 3, 4, 5]
        for r in got:
            missing = terms - docs[r.doc_id]
            assert missing, f"q{qid} doc{r.doc_id} contains all terms"
            assert r.matched_terms == len(terms) - len(missing)
        n_pos = sum(1 for toks in docs.values() if terms <= toks)
        assert n_pos > 0, f"q{qid}: positive filter vacuous"


def test_minhash_batch_matches_with_prebuilt_index_identical(spark):
    """`corpus_minhash_index` is a pure factoring of the inline build: the
    probe with a pre-built (buckets, sizes) index returns row-identical
    results to the inline form — the equality that lets a production table
    store the index at commit time without changing any admission verdict."""
    from eviction_lab_etl_spark.functions.minhash import (
        corpus_minhash_index,
        minhash_batch_matches,
    )

    corpus_words = [f"w{i}" for i in range(30)]
    corpus = spark.createDataFrame(
        [(1, w) for w in corpus_words]
        + [(2, w) for w in ["y1", "y2", "y3", "y4"]],
        "id long, w string",
    )
    batch = spark.createDataFrame(
        [(101, w) for w in corpus_words + ["extra"]]
        + [(102, w) for w in ["y1", "y2", "y3"]],
        "id long, w string",
    )
    kw = dict(threshold=(9, 10), bands=16, rows_per_band=3)
    inline = sorted(
        map(tuple, minhash_batch_matches(batch, corpus, **kw).collect())
    )
    idx = corpus_minhash_index(corpus, bands=16, rows_per_band=3)
    indexed = sorted(
        map(
            tuple,
            minhash_batch_matches(batch, corpus, corpus_index=idx, **kw)
            .collect(),
        )
    )
    assert inline == indexed and inline  # identical and non-empty


def test_compactor_sketch_bound_any_split_any_order():
    """The deterministic compactor's contract under ADVERSARIAL composition:
    for random streams, random chunkings, and random merge orders, total
    weight is EXACTLY n and every permille estimate's true rank error stays
    within the claimed 5% envelope (observed <1%; the envelope is the
    worst-case n*levels/k bound the operator's verdict pins)."""
    import bisect
    import random

    from eviction_lab_etl_spark.functions.quantile_sketch import (
        CompactorSketch,
        merge_summaries,
        summarize_values,
    )

    rng = random.Random(11)
    for _ in range(12):
        n = rng.randint(1, 30000)
        vals = [rng.randint(-10**9, 10**9) for _ in range(n)]
        chunks, i = [], 0
        while i < n:
            j = min(n, i + rng.randint(1, max(1, n // 4)))
            chunks.append(vals[i:j])
            i = j
        summaries = [summarize_values(c) for c in chunks]
        rng.shuffle(summaries)
        merged = merge_summaries(p for s in summaries for p in s)
        assert sum(w for _, w in merged) == n
        sk = CompactorSketch()
        for v, w in merged:
            sk.insert_weighted(v, w)
        srt = sorted(vals)
        for pm in (10, 250, 500, 750, 990):
            target = (pm * n + 999) // 1000
            est = sk.rank_query(target)
            lt = bisect.bisect_left(srt, est)
            le = bisect.bisect_right(srt, est)
            assert 20 * (lt + 1) <= 20 * target + n
            assert 20 * le >= 20 * target - n


def test_compactor_sketch_empty_summary_raises_cleanly():
    """rank_query on an empty state (no inserts, or a merge of zero/all-empty
    partials — an all-empty-partition corpus) must raise a contract
    ValueError, not an IndexError from pairs[-1] (r11 ADVICE); the empty
    state itself must be well-formed (total_weight() == 0, summary [])."""
    import pytest

    from eviction_lab_etl_spark.functions.quantile_sketch import (
        CompactorSketch,
        merge_summaries,
        summarize_values,
    )

    sk = CompactorSketch()
    assert sk.total_weight() == 0 and sk.summary() == []
    with pytest.raises(ValueError, match="empty summary"):
        sk.rank_query(1)
    assert summarize_values([]) == []
    assert merge_summaries([]) == []
    merged = merge_summaries(p for s in [summarize_values([])] * 3 for p in s)
    assert merged == []
    sk2 = CompactorSketch()
    for v, w in merged:
        sk2.insert_weighted(v, w)
    with pytest.raises(ValueError, match="empty summary"):
        sk2.rank_query(1)


def test_sketch_theta_kmv_error_contract(spark, sf_dir):
    """KMV/theta estimates must land within 15% of exact on all four set
    cardinalities (theory: RSE ≈ 1/√(K−2) ≈ 8.9% at K=128; measured ≤ 6%
    on both shipped fixtures — the driver hash pins the exact row, this
    pins the statistical claim), and both sides must genuinely overlap
    (exact_inter > 0) so the intersection estimator is exercised."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["sketch_theta_kmv"](spark, sf_dir).collect()[0]
    assert row.exact_inter > 0
    for est, exact in [
        (row.est_a, row.exact_a),
        (row.est_b, row.exact_b),
        (row.est_union, row.exact_union),
        (row.est_inter, row.exact_inter),
    ]:
        assert abs(est - exact) * 100 <= 15 * exact, row


def test_kmv_bottom_k_is_mergeable():
    """The KMV merge contract Spark's TakeOrdered relies on: the bottom-K
    of a union of per-partition bottom-Ks equals the bottom-K of the whole
    stream, for any partitioning — sketches built per shard merge losslessly."""
    import random

    rng = random.Random(7)
    k = 16
    values = [rng.randrange(1 << 60) for _ in range(500)]
    for n_parts in (1, 2, 5, 13):
        parts = [values[i::n_parts] for i in range(n_parts)]
        merged = sorted(
            {v for p in parts for v in sorted(set(p))[:k]}
        )[:k]
        assert merged == sorted(set(values))[:k]


def test_dedup_lines_global_invariants(spark, sf_dir):
    """Sharp invariant of keep-first line dedup: every distinct line content
    survives EXACTLY once corpus-wide, so Σ n_kept == |distinct lines|.
    Also: the dedup must actually fire on the fixture (Σ n_kept < Σ n_lines)
    and no document keeps more lines than it has."""
    from eviction_lab_etl_spark.operators.dedup_text import _LINE_LEN
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    out = QUERIES["dedup_lines_global"](spark, sf_dir)
    agg = out.agg(
        F.sum("n_lines").alias("tl"),
        F.sum("n_kept").alias("tk"),
        F.max((F.col("n_kept") > F.col("n_lines")).cast("int")).alias("bad"),
    ).collect()[0]
    assert agg.bad == 0
    assert agg.tk < agg.tl, "line dedup never fired on the fixture"

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    nb = F.expr(f"(size(toks) + {_LINE_LEN - 1}) div {_LINE_LEN}")
    distinct_lines = (
        docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), nb),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), (i - 1) * _LINE_LEN + 1, _LINE_LEN),
                        " ",
                    ),
                )
            ).alias("line")
        )
        .distinct()
        .count()
    )
    assert agg.tk == distinct_lines


def test_contam_neardup_flags_every_plant(spark, sf_dir):
    """Every planted near-copy (bench text + 3 junk tokens, id+200000) must
    be flagged near=1 AGAINST ITS OWN ORIGIN — exact-hash dedup misses all
    plants (text differs), so any missed plant means the near-dup gate
    regressed to exact matching. Organic near=1 rows are allowed (short
    fixture docs can genuinely clear J >= 0.6 — verification is exact) but
    must never involve a planted id on the bench side."""
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    rows = QUERIES["contam_neardup"](spark, sf_dir).collect()
    near = {(r.bench_id, r.train_id) for r in rows if r.near == 1}
    bench_ids = [
        r.doc_id
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id")
        .collect()
    ]
    assert bench_ids
    for bench_id in bench_ids:
        assert (bench_id, bench_id + 200000) in near, bench_id
    assert all(b < 200000 for b, _ in near)


def test_text_quality_classifier_separates_classes(spark, sf_dir):
    """The trained NB gate must actually discriminate: mean score of the
    positive class (lang 'en') exceeds the negative class's mean by >= 2000
    quanta (~0.17 nat/doc; measured 2635 at sf0.001, 4046 at sf0.01), and
    the decision column is non-degenerate (both classes predicted)."""
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    out = QUERIES["text_quality_classifier"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = out.join(docs, "doc_id")
    agg = j.groupBy((F.col("lang") == "en").alias("is_en")).agg(
        F.avg("score_q").alias("m"), F.sum("pred_en").alias("p"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    by = {r.is_en: r for r in agg}
    assert by[True].m - by[False].m >= 2000
    preds = {int(r.p > 0) for r in agg}
    total_pos = sum(r.p for r in agg)
    assert 0 < total_pos < sum(r.n for r in agg)


def test_search_rp_recall_floor(spark, sf_dir):
    """The 16-dim JL projection must preserve the clustered fixture's
    neighbourhood: recall@10 vs the exact 64-dim ranking >= 9 (measured
    10/10 at sf0.001 and sf0.01 — the probe's planted 10-member cluster
    survives the 4x dimension cut; the driver hash pins the exact row)."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["search_rp_recall"](spark, sf_dir).collect()[0]
    assert row.n_exact == 10
    assert row.n_hits >= 9


def test_join_asof_nearest_matches_bruteforce(spark, sf_dir):
    """The union-window nearest join must equal the brute-force spec: for
    every purchase, min |Δts| over the user's signups (backward on ties),
    computed here as an explicit join + rank. Pins direction semantics and
    the tie rule, independently of the driver's oracle hash."""
    from pyspark.sql import Window

    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    out = {
        r.purchase_id: (r.signup_id, r.dist_us)
        for r in QUERIES["join_asof_nearest"](spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.unix_micros("ts").alias("pus"),
    )
    sig = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("sid"),
        F.unix_micros("ts").alias("sus"),
    )
    j = pur.join(sig, "user_id").select(
        "pid",
        "sid",
        F.abs(F.col("pus") - F.col("sus")).alias("dist"),
        # backward-on-tie: among equal distances prefer sus <= pus, then the
        # operator's event_id rule (max id backward, min id forward)
        F.when(F.col("sus") <= F.col("pus"), 0).otherwise(1).alias("dirn"),
        F.when(F.col("sus") <= F.col("pus"), -F.col("sid")).otherwise(
            F.col("sid")
        ).alias("tie"),
    )
    w = Window.partitionBy("pid").orderBy("dist", "dirn", "tie")
    brute = {
        r.pid: (r.sid, r.dist)
        for r in j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    # purchases with no signup for the user: operator emits NULL signup
    for pid, (sid, dist) in brute.items():
        assert out[pid] == (sid, dist), (pid, out[pid], (sid, dist))
    for pid, (sid, dist) in out.items():
        if sid is not None:
            assert pid in brute


def test_sketch_kmv_partitioned_merge_is_lossless(spark, sf_dir):
    """The rollup's core claim, asserted directly: the '__merged__' row
    (global sketch from merging per-source sketches) must EQUAL the
    '__direct__' row (global sketch from the full stream) — bottom-K of a
    union of per-partition bottom-Ks IS the global bottom-K. Also: every
    per-source estimate is positive and the merged estimate is >= the
    largest single source's (supersets can't shrink)."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = {r.source: r for r in QUERIES["sketch_kmv_partitioned"](spark, sf_dir).collect()}
    m, d = rows["__merged__"], rows["__direct__"]
    assert (m.k, m.vk, m.est) == (d.k, d.vk, d.est)
    per = [r for s, r in rows.items() if not s.startswith("__")]
    assert per and all(r.est > 0 for r in per)
    assert m.est >= max(r.est for r in per)


def test_contam_span_remove_consistent_with_ledger(spark, sf_dir):
    """Cross-operator consistency: the surgical removal and the counting
    ledger share the 5-gram spec, so a training doc with n_hit == 0 in
    contam_ngram_overlap must round-trip byte-identical (n_removed == 0),
    and every doc with n_hit > 0 must lose at least one token. Removal
    must actually fire somewhere on the fixture."""
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    removed = {
        r.doc_id: r for r in QUERIES["contam_span_remove"](spark, sf_dir).collect()
    }
    hits = {
        r.doc_id: r.n_hit
        for r in QUERIES["contam_ngram_overlap"](spark, sf_dir).collect()
    }
    original = {
        r.doc_id: r.text
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 != 0)
        .collect()
    }
    assert any(r.n_removed > 0 for r in removed.values())
    for doc_id, r in removed.items():
        # ledger only emits docs with >=1 gram (n >= 5); short docs have no
        # grams, hence nothing removable
        n_hit = hits.get(doc_id, 0)
        if n_hit == 0:
            assert r.n_removed == 0, doc_id
            assert r.clean_text == original[doc_id], doc_id
        else:
            assert r.n_removed > 0, doc_id


def test_prune_prototypes_flags_exactly_the_plants(spark, sf_dir):
    """Every planted outlier (3x-amplified vector, id+10000) must be
    flagged prune_far=1 and no organic clustered vector may be flagged
    (measured organic max ratio 1793 permille < the 2000 threshold at both
    fixture scales) — the far-tail flag detects exactly the planted noise."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["prune_prototypes"](spark, sf_dir).collect()
    plants = [r for r in rows if r.vec_id >= 10000]
    organics = [r for r in rows if r.vec_id < 10000]
    assert len(plants) == 20
    assert all(r.prune_far == 1 for r in plants)
    assert all(r.prune_far == 0 for r in organics)


def test_matryoshka_recall_floor(spark, sf_dir):
    """The prefix-truncated (16-of-64-dim) ranking must keep recall@10 >= 9
    against the exact 64-dim ranking on the clustered fixture — the
    planted 10-member cluster dominates both rankings, so losing more than
    one member to truncation would mean the prefix scan is broken, not
    merely distorted (measured: 10/10)."""
    from eviction_lab_etl_spark.registry import QUERIES

    row = QUERIES["search_matryoshka_recall"](spark, sf_dir).collect()[0]
    assert row.n_exact == 10
    assert row.n_hits >= 9


def test_geo_simplify_sweep_ring_bounds_and_validity(spark, sf_dir):
    """The area-sweep must actually simplify (every 16-vertex fixture ring
    loses vertices at tolerance 20) while never destroying ring validity
    (>= 3 kept vertices), and the emitted WKT must be a closed ring whose
    vertex count is n_kept + 1."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["geo_simplify_sweep"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 3 <= r.n_kept < 16, (r.n_nationkey, r.n_kept)
        body = r.wkt.removeprefix("POLYGON ((").removesuffix("))")
        verts = body.split(", ")
        assert len(verts) == r.n_kept + 1
        assert verts[0] == verts[-1]  # closed


def test_geo_geojson_parse_wkt_equals_wkt_fixture(spark, sf_dir):
    """Cross-fixture consistency: the WKT reconstructed from the parsed
    GeoJSON ring must equal fixtures.nation_polygons_irregular's WKT string
    byte-for-byte (both derive from the same star-vertex constants) — the
    GeoJSON ingest hands off losslessly into the WKT operator chain."""
    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.registry import QUERIES

    parsed = {
        r.key: r.wkt
        for r in QUERIES["geo_geojson_parse"](spark, sf_dir).collect()
    }
    fixture = {
        r.n_nationkey: r.wkt
        for r in fixtures.nation_polygons_irregular(spark, sf_dir).collect()
    }
    assert parsed == fixture


def test_boilerplate_strip_total_conservation_and_zero_survivors(spark, sf_dir):
    """Strip semantics: (1) per doc, kept + dropped == n_lines and new_text
    token count equals the kept lines' token mass (reassembly loses
    nothing); (2) the strip is TOTAL — no surviving pseudo-line of the
    output corpus has corpus frequency above the threshold when recounted
    over the ORIGINAL line table (zero copies survive, the contract that
    distinguishes this from dedup_lines_global's keep-first)."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.operators.dedup_text import (
        _BP_LINE_LEN,
        _BP_MAX,
    )
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    out = QUERIES["text_boilerplate_strip"](spark, sf_dir)
    rows = out.collect()
    assert sum(r.n_dropped for r in rows) > 0  # the threshold fires
    # rebuild the original line table and its hot set in python
    docs = {r.doc_id: r.text for r in load(spark, sf_dir, "documents").collect()}
    from collections import Counter

    def lines_of(text):
        toks = text.split(" ")
        return [
            " ".join(toks[i : i + _BP_LINE_LEN])
            for i in range(0, len(toks), _BP_LINE_LEN)
        ]

    freq = Counter(ln for t in docs.values() for ln in lines_of(t))
    hot = {ln for ln, c in freq.items() if c > _BP_MAX}
    for r in rows:
        orig = lines_of(docs[r.doc_id])
        kept = [ln for ln in orig if ln not in hot]
        assert r.n_lines == len(orig) and r.n_dropped == len(orig) - len(kept)
        assert r.new_text == " ".join(kept)  # order-preserving, total strip


def test_point_in_polygon_holes_excludes_hole_interior(spark, sf_dir):
    """Multi-ring even-odd semantics: (1) points landing strictly inside a
    hole EXIST among the grid candidates and are excluded from the result
    (outer-ring crossings odd, total crossings even); (2) the result is
    exactly the outer-ring containment minus the hole-interior points —
    recomputed per candidate with the single-ring fold on each ring."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.operators.geo import (
        _rings_coords,
    )
    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    rings = _rings_coords(fixtures.nation_polygons_holed(spark, sf_dir))
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (20 + (F.col("c_custkey") * 7919) % 100).alias("px"),
        (20 + (F.col("c_custkey") * 104729) % 100).alias("py"),
    )
    # hole interior: |px-cx| < 2 and |py-cy| < 2 (the ±2 square, open)
    k = F.col("n_nationkey")
    cx = (k % 5) * 20 + 30
    cy = F.expr("n_nationkey div 5") * 20 + 30
    cand = pts.crossJoin(rings.select("n_nationkey"))
    in_hole = cand.filter(
        (F.abs(F.col("px") - cx) < 2) & (F.abs(F.col("py") - cy) < 2)
    )
    n_in_hole = in_hole.count()
    assert n_in_hole > 0  # the hole actually catches fixture points
    got = {
        (r.c_custkey, r.n_nationkey)
        for r in QUERIES["geo_point_in_polygon_holes"](spark, sf_dir).collect()
    }
    hole_pairs = {
        (r.c_custkey, r.n_nationkey) for r in in_hole.collect()
    }
    assert not (got & hole_pairs)  # no hole-interior point ever emitted


def test_pipeline_decontaminate_stage_attribution_exact(spark, ddb, sf_dir):
    """Funnel attribution, per id space, against a DuckDB per-doc replica of
    the pipeline's own stage constants: (1) the exact-normalized gate drops
    EXACTLY the messy re-crawls (300000 <= id < 500000) — no natural ever
    byte-matches a benchmark post-normalization; (2) the gram stage drops
    EVERY span plant (id >= 500000) — 100% plant recall — plus exactly the
    naturally-contaminated docs the replica identifies (the base corpus
    contains docs whose text coincides with a benchmark's; dropping them is
    the pipeline doing its job); (3) the per-shard ledger reconciles with
    the replica's per-doc verdicts row for row."""
    from eviction_lab_etl_spark.operators.training import (
        _CN_GRAMS,
        _CN_NORM,
        _PDC_PERMILLE,
        _pdc_universe_sql,
    )
    from eviction_lab_etl_spark.registry import QUERIES

    per_doc = ddb.sql(
        f"""
        WITH {_pdc_universe_sql()},
        bench AS (
            SELECT doc_id, {_CN_NORM.format(col="text")} AS norm
            FROM documents WHERE doc_id % 97 = 0
        ),
        bench_md5 AS (SELECT DISTINCT md5(norm) AS h FROM bench),
        btoks AS (SELECT doc_id, string_split(norm, ' ') AS l FROM bench),
        bgrams AS (SELECT DISTINCT gram FROM ({_CN_GRAMS.format(src="btoks")})),
        normed AS (
            SELECT doc_id, {_CN_NORM.format(col="raw")} AS norm FROM train
        ),
        flagged AS (
            SELECT n.doc_id, CAST(bm.h IS NOT NULL AS BIGINT) AS exact_drop
            FROM normed n LEFT JOIN bench_md5 bm ON md5(n.norm) = bm.h
        ),
        stoks AS (
            SELECT n.doc_id, string_split(n.norm, ' ') AS l
            FROM normed n JOIN flagged f ON f.doc_id = n.doc_id
            WHERE f.exact_drop = 0
        ),
        sgrams AS ({_CN_GRAMS.format(src="stoks")}),
        gled AS (
            SELECT g.doc_id, count(*) AS n,
                   sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS h
            FROM sgrams g LEFT JOIN bgrams b ON g.gram = b.gram
            GROUP BY g.doc_id
        )
        SELECT f.doc_id, f.exact_drop,
               CAST(coalesce(1000 * g.h >= {_PDC_PERMILLE} * g.n AND g.h > 0,
                             FALSE) AS BIGINT) AS gram_drop
        FROM flagged f LEFT JOIN gled g ON g.doc_id = f.doc_id
        """
    ).fetchall()
    exact_ids = {r[0] for r in per_doc if r[1] == 1}
    gram_ids = {r[0] for r in per_doc if r[2] == 1}
    # (1) exact gate == the re-crawl id space, exactly
    recrawl_ids = {r[0] for r in per_doc if 300000 <= r[0] < 500000}
    assert exact_ids == recrawl_ids and exact_ids
    # (2) 100% plant recall at the gram stage
    plant_ids = {r[0] for r in per_doc if r[0] >= 500000}
    assert plant_ids and plant_ids <= gram_ids
    # naturals the replica flags are genuinely contaminated, not plants:
    natural_dropped = gram_ids - plant_ids
    assert all(i < 300000 for i in natural_dropped)
    # (3) the ledger reconciles with the replica per shard
    rows = QUERIES["pipeline_decontaminate"](spark, sf_dir).collect()
    assert all(r.n_in == r.n_exact + r.n_gram + r.n_clean for r in rows)
    from collections import Counter

    want_exact = Counter(i % 5 for i in exact_ids)
    want_gram = Counter(i % 5 for i in gram_ids)
    for r in rows:
        assert r.n_exact == want_exact.get(r.shard, 0), r
        assert r.n_gram == want_gram.get(r.shard, 0), r


def test_geo_centroid_holed_matches_python_and_sane(spark, sf_dir):
    """Holed centroid vs an independent Python replica (Fraction-exact),
    plus the geometric sanity the formula must satisfy on every fixture
    ring: den = 3·net_a2 > 0 and the exact rational centroid lies strictly
    inside the outer ring's bbox."""
    from fractions import Fraction

    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.registry import QUERIES

    wkts = {
        r.n_nationkey: r.wkt
        for r in fixtures.nation_polygons_holed(spark, sf_dir).collect()
    }
    got = {
        r.n_nationkey: (r.cx_num, r.cy_num, r.den)
        for r in QUERIES["geo_centroid_holed"](spark, sf_dir).collect()
    }

    def ring_terms(pts):
        a2 = cx = cy = 0
        for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
            c = x1 * y2 - x2 * y1
            a2 += c
            cx += (x1 + x2) * c
            cy += (y1 + y2) * c
        if a2 < 0:
            return -a2, -cx, -cy
        return a2, cx, cy

    for k, wkt in wkts.items():
        rings = [
            [tuple(map(int, p.split(" "))) for p in r.split(", ")]
            for r in wkt.removeprefix("POLYGON ((").removesuffix("))").split("), (")
        ]
        oa, ocx, ocy = ring_terms(rings[0])
        ha = hcx = hcy = 0
        for hole in rings[1:]:
            a, cx, cy = ring_terms(hole)
            ha, hcx, hcy = ha + a, hcx + cx, hcy + cy
        want = (ocx - hcx, ocy - hcy, 3 * (oa - ha))
        assert got[k] == want, (k, got[k], want)
        assert want[2] > 0
        cx_f = Fraction(want[0], want[2])
        cy_f = Fraction(want[1], want[2])
        xs = [x for x, _ in rings[0]]
        ys = [y for _, y in rings[0]]
        assert min(xs) < cx_f < max(xs) and min(ys) < cy_f < max(ys), k


def test_multipolygon_parts_island_semantics(spark, sf_dir):
    """Parser semantics on both branches: even-keyed nations report exactly
    2 parts with the island as the SMALLER part (main_a2 < total_a2 and
    total - main == the 3x3 island's exact doubled area, 18); odd-keyed
    report 1 part with total == main; the union bbox covers the island
    corner (maxx/maxy reach center+16) only on even keys."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = {r.n_nationkey: r for r in
            QUERIES["geo_multipolygon_parts"](spark, sf_dir).collect()}
    assert rows
    for k, r in rows.items():
        cx, cy = (k % 5) * 20 + 30, (k // 5) * 20 + 30
        if k % 2 == 0:
            assert r.n_parts == 2 and r.total_a2 - r.main_a2 == 18, k
            assert r.maxx == cx + 16 and r.maxy == cy + 16, k
        else:
            assert r.n_parts == 1 and r.total_a2 == r.main_a2, k
            assert r.maxx < cx + 13 and r.maxy < cy + 13, k


def test_point_in_multipolygon_island_hits_exist(spark, sf_dir):
    """Island containment is load-bearing: the result must include points
    strictly inside a planted 3x3 island (|px-(cx+13..16)| interior) that
    the star part alone could never emit, and every island-interior
    candidate point must be emitted for its nation."""
    from pyspark.sql import functions as F

    from eviction_lab_etl_spark.registry import QUERIES
    from eviction_lab_etl_spark.sources.loader import load

    got = {
        (r.c_custkey, r.n_nationkey)
        for r in QUERIES["geo_point_in_multipolygon"](spark, sf_dir).collect()
    }
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (20 + (F.col("c_custkey") * 7919) % 100).alias("px"),
        (20 + (F.col("c_custkey") * 104729) % 100).alias("py"),
    ).collect()
    nat = load(spark, sf_dir, "nation").select("n_nationkey").collect()
    island_pairs = set()
    for n in nat:
        k = n.n_nationkey
        if k % 2 != 0:
            continue
        cx, cy = (k % 5) * 20 + 30, (k // 5) * 20 + 30
        for p in pts:
            if cx + 13 < p.px < cx + 16 and cy + 13 < p.py < cy + 16:
                island_pairs.add((p.c_custkey, k))
    assert island_pairs  # fixture actually lands points inside islands
    assert island_pairs <= got  # every island-interior point is emitted


def test_pii_scrub_grammar_cross_engine(spark):
    """Pin the three scrub classes engine-vs-engine on crafted shapes the
    fixture generator never emits (multi-PII lines, false-positive guards,
    bare phone runs): Spark (scrub_pii) and DuckDB (the same shared pattern
    constants) must both produce the hand-computed expectation — the
    coverage pin for the grammar itself, beyond the fixture's planted
    cases."""
    import duckdb

    from eviction_lab_etl_spark.operators import cleaning as C

    # (raw, masked, n_emails, n_ipv4, n_phones)
    cases = [
        ("mail first.last+tag5@ex-ample.co end", "mail <EMAIL> end", 1, 0, 0),
        # mixed-case email (r14 ADVICE: the grammar is case-insensitive via
        # explicit classes — 'First.Last@Example.COM' must not survive)
        ("mail First.Last+Tag9@Example.COM end", "mail <EMAIL> end", 1, 0, 0),
        ("ip 10.37.0.55 here", "ip <IPV4> here", 0, 1, 0),
        ("call (555) 010-1234 now", "call <PHONE> now", 0, 0, 1),
        ("call +1 555-010-1234 now", "call <PHONE> now", 0, 0, 1),
        ("call 555.010.1234 now", "call <PHONE> now", 0, 0, 1),
        # false positives: a 3-octet version literal is NOT an IPv4; a word
        # glued to digits is not a phone
        ("version v1.2.3 stays", "version v1.2.3 stays", 0, 0, 0),
        ("bare 010-1234 run", "bare <PHONE> run", 0, 0, 1),
        # \b anchors (r14 ADVICE): a phone-shaped window inside a longer
        # CONTIGUOUS digit run is not a phone — the adjacent digit blocks
        # the word boundary on that side
        ("id 9123-45678 intact", "id 9123-45678 intact", 0, 0, 0),
        ("tail 123.45678 intact", "tail 123.45678 intact", 0, 0, 0),
        # documented residual (cleaning.py pattern comment): '.'/'-' are
        # non-word chars, so a separator-delimited window inside a DOTTED
        # run still sits on word boundaries and masks — RE2 has no
        # lookbehind, so the shared-constant grammar cannot see past the
        # separator; pinned so the tradeoff stays visible
        ("run 1234.567.8901 part", "run 1234.<PHONE> part", 0, 0, 1),
        ("no pii at all", "no pii at all", 0, 0, 0),
        (
            "combo a.b@c.io 192.168.1.1 555-123-4567",
            "combo <EMAIL> <IPV4> <PHONE>",
            1,
            1,
            1,
        ),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, *_) in enumerate(cases)], "doc_id long, raw string"
    )
    got = {
        r.doc_id: (r.masked, r.n_emails, r.n_ipv4, r.n_phones)
        for r in C.scrub_pii(df).collect()
    }
    con = duckdb.connect()
    for i, (raw, masked, ne, ni, np_) in enumerate(cases):
        assert got[i] == (masked, ne, ni, np_), (raw, got[i])
        duck = con.execute(
            """
            WITH m AS (SELECT regexp_replace($raw, $e, '<EMAIL>', 'g') AS e1),
            m2 AS (SELECT e1, regexp_replace(e1, $i, '<IPV4>', 'g') AS e2 FROM m)
            SELECT regexp_replace(e2, $p, '<PHONE>', 'g'),
                   len(regexp_extract_all($raw, $e)),
                   len(regexp_extract_all(e1, $i)),
                   len(regexp_extract_all(e2, $p))
            FROM m2
            """,
            {
                "raw": raw,
                "e": C._SCRUB_EMAIL_RE,
                "i": C._SCRUB_IPV4_RE,
                "p": C._SCRUB_PHONE_RE,
            },
        ).fetchone()
        assert tuple(duck) == (masked, ne, ni, np_), (raw, duck)


def test_bbox_overlap_reference_point_exactly_once(spark, sf_dir):
    """The PBSM reference-point rule must reproduce the naive pairwise join
    EXACTLY: (1) no (a, b) key appears twice (multi-cell pairs are emitted
    by exactly one cell), (2) the pair set equals a python nested-loop over
    the same bboxes, and (3) the dedup predicate is load-bearing — at least
    one overlapping pair's overlap box spans across a grid-cell boundary in
    the candidate lattice (so without the rule it WOULD duplicate)."""
    from eviction_lab_etl_spark.operators.geo import _CELL, _ring_coords
    from eviction_lab_etl_spark import fixtures
    from eviction_lab_etl_spark.registry import QUERIES
    from pyspark.sql import functions as F

    rows = QUERIES["geo_bbox_overlap_pairs"](spark, sf_dir).collect()
    keys = [(r.a, r.b) for r in rows]
    assert len(keys) == len(set(keys)), "reference-point rule duplicated a pair"

    ring = _ring_coords(fixtures.nation_polygons_irregular(spark, sf_dir))
    n_open = F.size("xs") - 1
    boxes = {
        r.k: (r.minx, r.maxx, r.miny, r.maxy)
        for r in ring.select(
            F.col("n_nationkey").alias("k"),
            F.array_min(F.slice("xs", 1, n_open)).alias("minx"),
            F.array_max(F.slice("xs", 1, n_open)).alias("maxx"),
            F.array_min(F.slice("ys", 1, n_open)).alias("miny"),
            F.array_max(F.slice("ys", 1, n_open)).alias("maxy"),
        ).collect()
    }
    naive = set()
    for a, (ax0, ax1, ay0, ay1) in boxes.items():
        for b, (bx0, bx1, by0, by1) in boxes.items():
            if a < b and ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1:
                naive.add((a, b))
    assert set(keys) == naive
    multi_cell = [
        r for r in rows
        if r.ox0 // _CELL != r.ox1 // _CELL or r.oy0 // _CELL != r.oy1 // _CELL
    ]
    assert multi_cell, "fixture has no cell-spanning overlap; dedup rule untested"


def test_tile_cover_pyramid_structure(spark, sf_dir):
    """Tile cover invariants: every shape appears at every zoom; zoom-0 is
    a single world tile per shape; each zoom-z tile's parent (tx//2, ty//2)
    is covered at zoom z-1 (bbox cover is closed under coarsening)."""
    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["geo_tile_cover"](spark, sf_dir).collect()
    by_shape_zoom = {}
    for r in rows:
        by_shape_zoom.setdefault((r.n_nationkey, r.zoom), set()).add(
            (r.tile_x, r.tile_y)
        )
    shapes = {k for k, _ in by_shape_zoom}
    for k in shapes:
        for z in (0, 1, 2):
            assert (k, z) in by_shape_zoom, (k, z)
        assert by_shape_zoom[(k, 0)] == {(0, 0)}
        for z in (1, 2):
            parents = {(tx // 2, ty // 2) for tx, ty in by_shape_zoom[(k, z)]}
            assert parents <= by_shape_zoom[(k, z - 1)], (k, z)


def test_crosswalk_alloc_conserves_mass_and_splits(spark, sf_dir):
    """Crosswalk invariants: (1) per source geography, den = Σ_b w (the
    window and the weights agree); (2) apportionment conserves mass
    EXACTLY in integer arithmetic — Σ_b alloc_num = src_value · den, i.e.
    Σ_b alloc_num/den = src_value with no rounding; (3) the vintage
    misalignment is load-bearing: at least one source straddles >= 2
    targets (a crosswalk over aligned vintages would be the identity)."""
    from collections import defaultdict

    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["geo_crosswalk_alloc"](spark, sf_dir).collect()
    assert rows
    by_a = defaultdict(list)
    for r in rows:
        by_a[r.a].append(r)
    assert any(len(v) >= 2 for v in by_a.values()), "no source splits"
    for a, group in by_a.items():
        den = group[0].den
        src = group[0].src_value
        assert all(r.den == den and r.src_value == src for r in group)
        assert sum(r.w for r in group) == den, a
        assert sum(r.alloc_num for r in group) == src * den, a
        assert all(r.w > 0 for r in group), a


def test_attribution_linear_agrees_with_last_touch(spark, sf_dir):
    """Model-consistency pins: (1) every purchase's n_touches equals its
    actual row count (the window and the pairing agree, so each touch's
    1/n_touches credit sums to exactly 1 per purchase); (2) for every
    purchase BOTH models attribute, the last-touch winner is exactly the
    linear row with the maximal (ts-order) touch — i.e. the max touch_id
    under the shared (ts, event_id) total order; (3) purchases linear
    drops are exactly last_touch's NULL-touch (organic) rows."""
    from collections import defaultdict

    from eviction_lab_etl_spark.registry import QUERIES

    lin = QUERIES["events_attribution_linear"](spark, sf_dir).collect()
    last = {
        r.purchase_id: r.touch_id
        for r in QUERIES["events_attribution_last_touch"](spark, sf_dir).collect()
    }
    by_p = defaultdict(list)
    for r in lin:
        by_p[r.purchase_id].append(r)
    for pid, rows in by_p.items():
        assert rows[0].n_touches == len(rows), pid
        assert all(r.n_touches == len(rows) for r in rows)
    organic = {pid for pid, t in last.items() if t is None}
    assert set(by_p) == set(last) - organic
    # last-touch winner must be among the linear touches for that purchase
    for pid, rows in by_p.items():
        assert last[pid] in {r.touch_id for r in rows}, pid


def test_pii_scrub_fixed_seed_fuzz_lockstep(spark):
    """Fixed-seed fuzz of the shared-constant contract itself: 800 random
    strings over the PII-ish alphabet (MIXED-case letters, digits,
    '@./-_+ ()#&?=%') must scrub to the IDENTICAL (masked, counts) in
    Spark and DuckDB. Deterministic by construction (fixed seed,
    engine-vs-engine equality — the r13 @given discipline: no stochastic
    bound over searched inputs); a 4,000-case sweep with this generator
    measured zero divergences before the pin (re-swept r15 after the
    mixed-case-email + \\b-anchored-phone grammar change and the uppercase
    alphabet extension)."""
    import random

    import duckdb

    from eviction_lab_etl_spark.operators import cleaning as C

    rng = random.Random(20260816)
    alpha = (
        "abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "0123456789@./-_+ ()#&?=%"
    )
    cases = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
        for _ in range(800)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "doc_id long, raw string"
    )
    got = {
        r.doc_id: (r.masked, r.n_emails, r.n_ipv4, r.n_phones)
        for r in C.scrub_pii(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    duck = con.execute(
        f"""
        WITH m AS (SELECT i, raw,
                regexp_replace(raw, '{C._SCRUB_EMAIL_RE}', '<EMAIL>', 'g') AS e1
            FROM t),
        m2 AS (SELECT i, raw, e1,
                regexp_replace(e1, '{C._SCRUB_IPV4_RE}', '<IPV4>', 'g') AS e2
            FROM m)
        SELECT i, regexp_replace(e2, '{C._SCRUB_PHONE_RE}', '<PHONE>', 'g'),
               len(regexp_extract_all(raw, '{C._SCRUB_EMAIL_RE}')),
               len(regexp_extract_all(e1, '{C._SCRUB_IPV4_RE}')),
               len(regexp_extract_all(e2, '{C._SCRUB_PHONE_RE}'))
        FROM m2
        """
    ).fetchall()
    for i, m, ne, ni, np_ in duck:
        assert got[i] == (m, ne, ni, np_), (cases[i], got[i], (m, ne, ni, np_))


def test_crosswalk_apportion_sums_exactly(spark, sf_dir):
    """Largest-remainder invariants: per source a, Σ_b alloc == src_value
    EXACTLY (the property rational alloc_num/den only gives in the limit);
    every alloc is base or base+1 (floor(src·w/den) ± the remainder unit);
    and b_total is the per-target rollup of alloc. Cross-checked against
    geo_crosswalk_alloc's rational form: alloc differs from the exact
    rational src·w/den by strictly less than 1 unit on every row."""
    from collections import defaultdict

    from eviction_lab_etl_spark.registry import QUERIES

    rows = QUERIES["geo_crosswalk_apportion"](spark, sf_dir).collect()
    assert rows
    per_a = defaultdict(list)
    per_b = defaultdict(int)
    for r in rows:
        per_a[r.a].append(r)
        per_b[r.b] += r.alloc
    for a, rs in per_a.items():
        src = rs[0].src_value
        den = rs[0].den
        assert all(r.src_value == src and r.den == den for r in rs)
        assert sum(r.alloc for r in rs) == src, a
        for r in rs:
            base = (src * r.w) // den
            assert r.alloc in (base, base + 1), (a, r.b)
            # |alloc - src·w/den| < 1  <=>  |alloc·den - src·w| < den
            assert abs(r.alloc * den - src * r.w) < den, (a, r.b)
    for r in rows:
        assert r.b_total == per_b[r.b], r.b


def test_session_transitions_matrix_consistency(spark, sf_dir):
    """The within/across split must partition events_type_transitions'
    matrix exactly: summing cnt over within_session per (prev, cur) pair
    reproduces the unsplit matrix — same pairs, same totals — and the
    within flag agrees with a python replay of the closed-interval session
    rule (ts <= prev_ts + 30min) over a sample user's ordered stream."""
    from collections import defaultdict

    from eviction_lab_etl_spark.registry import QUERIES

    split = QUERIES["events_session_transitions"](spark, sf_dir).collect()
    flat = {
        (r.prev_type, r.cur_type): r.cnt
        for r in QUERIES["events_type_transitions"](spark, sf_dir).collect()
    }
    summed = defaultdict(int)
    for r in split:
        assert r.within_session in (0, 1)
        summed[(r.prev_type, r.cur_type)] += r.cnt
    assert dict(summed) == flat
    assert any(r.within_session == 1 for r in split)
    assert any(r.within_session == 0 for r in split)
