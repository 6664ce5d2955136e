"""The source layer's schema memo (sources/loader.py ``read_parquet``).

A memoized read must return exactly the schema inference would return today,
for the current file bytes and the current session confs: a memo hit swaps
footer inference for a supplied schema, so any stale or mis-keyed entry would
silently change what every query sees."""

from __future__ import annotations

import ast
import glob
import os
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from eviction_lab_etl_spark.sources import loader
from eviction_lab_etl_spark.sources.loader import TABLES, load, normalize_events_ts, read_parquet
from eviction_lab_etl_spark.sources.snapshot import SnapshotTable

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "eviction_lab_etl_spark")


@pytest.fixture()
def memo():
    loader._schemas.clear()
    yield loader._schemas
    loader._schemas.clear()


def _paths_in_memo(memo) -> list[list[str]]:
    return [[f[0] for f in key[0]] for key in memo]


def test_memoized_load_schema_equals_inferred(spark, sf_dir, memo):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        inferred = normalize_events_ts(spark.read.parquet(path)).schema
        assert load(spark, sf_dir, name).schema == inferred  # miss: fills the memo
        assert [path] in _paths_in_memo(memo)
        hit = load(spark, sf_dir, name).schema
        assert hit == inferred, name
        assert [f.nullable for f in hit] == [f.nullable for f in inferred], name
    assert len(memo) == len(TABLES)
    assert dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path, memo):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    inode = os.stat(path).st_ino
    with open(path, "wb") as fh:  # same inode: truncate and rewrite
        pq.write_table(
            pa.table({"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": ["A", "B"]}),
            fh,
        )
    assert os.stat(path).st_ino == inode
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["A", "B"]


def test_inference_confs_are_part_of_the_key(spark, sf_dir, memo):
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = f"{sf_dir}/events.parquet"
    before = spark.conf.get(conf)
    try:
        for enabled, ts_type in (("true", "timestamp_ntz"), ("false", "timestamp"), ("true", "timestamp_ntz")):
            spark.conf.set(conf, enabled)
            assert dict(read_parquet(spark, path).dtypes)["ts"] == ts_type
            assert dict(spark.read.parquet(path).dtypes)["ts"] == ts_type
            assert dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
        assert len(memo) == 2
    finally:
        spark.conf.set(conf, before)


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "schema memo job count")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_snapshot_read_launches_no_job(spark, tmp_path, memo):
    table = SnapshotTable(str(tmp_path / "snap"))
    table.append(spark.range(0, 3).withColumnRenamed("id", "k"))
    table.append(spark.range(3, 5).withColumnRenamed("id", "k").withColumn("tag", F.lit("new")))
    first, first_jobs = _jobs_during(spark, lambda: table.read(spark, version=2))
    again, again_jobs = _jobs_during(spark, lambda: table.read(spark, version=2))
    assert first_jobs >= 1  # the mergeSchema footer merge runs as a Spark job
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.columns) == ["k", "tag"]
    assert sorted(r.k for r in again.collect()) == [0, 1, 2, 3, 4]
    assert table.read(spark, version=1).columns == ["k"]


def test_memo_is_capped_lru(spark, sf_dir, memo, monkeypatch):
    monkeypatch.setattr(loader, "SCHEMA_MEMO_MAX", 3)
    for name in ("region", "nation", "supplier", "region", "part", "customer"):
        load(spark, sf_dir, name)
        assert len(memo) <= 3
    # "region" was re-used before "part" and "customer" arrived, so it
    # outlived "nation" and "supplier"
    assert _paths_in_memo(memo) == [[f"{sf_dir}/{n}.parquet"] for n in ("region", "part", "customer")]


def test_memo_under_concurrent_loads(spark, sf_dir, memo, monkeypatch):
    """More loader threads than cores, a cap smaller than the table set and a
    short switch interval: every load still returns the inferred schema and
    the memo never exceeds its cap."""
    monkeypatch.setattr(loader, "SCHEMA_MEMO_MAX", 3)
    names = TABLES[:6]
    want = {n: normalize_events_ts(spark.read.parquet(f"{sf_dir}/{n}.parquet")).schema for n in names}
    errors, sizes = [], []

    def worker(offset):
        try:
            for i in range(len(names)):
                name = names[(i + offset) % len(names)]
                if load(spark, sf_dir, name).schema != want[name]:
                    errors.append(name)
                sizes.append(len(memo))
        except Exception as exc:  # reported below, not swallowed
            errors.append(repr(exc))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(sizes) == len(threads) * len(names)
    assert max(sizes) <= 3


def test_missing_path_raises_like_spark(spark, tmp_path, memo):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(Exception) as direct:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as memoized:
        read_parquet(spark, missing)
    with pytest.raises(Exception) as loaded:
        load(spark, str(tmp_path), "nope")
    assert type(memoized.value) is type(direct.value)
    assert type(loaded.value) is type(direct.value)
    assert not memo


def _direct_fixture_reads(src: str) -> list[int]:
    """Line numbers of ``<...>.read<...>.parquet(...)`` calls whose arguments
    mention ``sf_dir`` — fixture reads that bypass ``read_parquet``."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr != "parquet":
            continue
        receiver = {n.attr for n in ast.walk(node.func.value) if isinstance(n, ast.Attribute)}
        args = [*node.args, *(k.value for k in node.keywords)]
        if "read" in receiver and any(
            isinstance(n, ast.Name) and n.id == "sf_dir" for a in args for n in ast.walk(a)
        ):
            hits.append(node.lineno)
    return hits


def test_direct_fixture_read_detector():
    bad = (
        'spark.read.parquet(f"{sf_dir}/events.parquet")\n'
        'spark.read.option("mergeSchema", "true").parquet(\n    os.path.join(sf_dir, "orders.parquet"))\n'
    )
    assert _direct_fixture_reads(bad) == [1, 2]
    ok = 'df.write.parquet(f"{sf_dir}/out")\nread_parquet(spark, f"{sf_dir}/events.parquet")\n'
    assert _direct_fixture_reads(ok) == []


def test_fixture_reads_go_through_the_loader():
    offenders = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if os.path.relpath(path, PKG) == os.path.join("sources", "loader.py"):
            continue
        with open(path) as fh:
            offenders += [f"{os.path.relpath(path, PKG)}:{n}" for n in _direct_fixture_reads(fh.read())]
    assert not offenders, f"read fixture tables with sources.loader.read_parquet: {offenders}"
