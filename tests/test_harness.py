"""The bench harness and the scripts that share it: bench.py's tables agree
with the registry, every tools/ script still imports against the helpers it
borrows from bench.py, and the session's runtime confs are all settable."""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest

import bench
from eviction_lab_etl_spark.session import RUNTIME_CONFS, STATIC_CONFS

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS_DIR = os.path.join(REPO_DIR, "tools")


def _literal_keys(name: str) -> list:
    """Keys of bench.py's dict/set literal ``name`` as written, duplicates
    included (a duplicated dict key silently overwrites at runtime)."""
    with open(bench.__file__) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == name for t in node.targets
        ):
            elts = node.value.keys if isinstance(node.value, ast.Dict) else node.value.elts
            return [ast.literal_eval(e) for e in elts]
    raise AssertionError(f"{name} not found in bench.py")


def test_bench_tables_match_registry():
    universe = bench.check_tables()
    names = [name for name, _, _ in bench.TRACKED]
    assert universe[: len(names)] == names
    assert universe[len(names):] == [n for n in bench.tpch_names() if n not in names]
    for table in ("BASELINE_SEC", "TPCH_BASE_SEC", "OVERHEAD_REPINNED"):
        keys = _literal_keys(table)
        assert len(keys) == len(set(keys)), f"duplicated {table} keys"
    assert all(bench.group(g) for g in bench.GROUPS)


@pytest.mark.parametrize(
    "table, patch",
    [
        ("TRACKED", lambda t: t + [t[0]]),
        ("TRACKED", lambda t: t + [("no_such_query", "r13", "stale")]),
        ("TRACKED", lambda t: t + [("agg_stats", "r99", "unknown group")]),
        ("BASELINE_SEC", lambda t: {**t, "no_such_query": 1.0}),
        ("TPCH_BASE_SEC", lambda t: {**t, "agg_sum_groupby": 1.0}),
        ("OVERHEAD_REPINNED", lambda t: t | {"agg_stats"}),
    ],
)
def test_bench_check_rejects_stale_rows(monkeypatch, table, patch):
    monkeypatch.setattr(bench, table, patch(getattr(bench, table)))
    with pytest.raises(ValueError):
        bench.check_tables()


@pytest.mark.parametrize(
    "path",
    [bench.__file__]
    + sorted(
        os.path.join(TOOLS_DIR, f) for f in os.listdir(TOOLS_DIR) if f.endswith(".py")
    ),
    ids=os.path.basename,
)
def test_tool_imports_and_defines_main(path):
    name = "tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None))
    # helpers called only inside main() are not resolved by the import
    with open(path) as fh:
        used = {
            node.attr
            for node in ast.walk(ast.parse(fh.read()))
            if isinstance(node, ast.Attribute) and getattr(node.value, "id", None) == "bench"
        }
    assert used <= set(dir(bench)), sorted(used - set(dir(bench)))


def test_runtime_confs_are_modifiable(spark):
    # configure() sets RUNTIME_CONFS on every load(); a static conf there
    # raises through py4j each time.
    for key in RUNTIME_CONFS:
        assert spark.conf.isModifiable(key), key
    conf = spark.sparkContext.getConf()
    for key, value in STATIC_CONFS.items():
        assert not spark.conf.isModifiable(key), key
        assert conf.get(key) == value, key
