"""Output checks: canonical result hashes against the DuckDB oracle.

A result is canonicalized with the ``tests/compare.py`` rules (columns sorted
by name, values normalized by ``_norm``, rows sorted by ``repr``) and hashed.
The expected hash is the same hash over the DuckDB oracle's rows on the
benchmark's data. ``expected.json`` caches those hashes, keyed on the oracle's
SQL text, so an oracle that changes is recomputed at run time. A query without
an oracle has no expected hash and always fails its check.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canonical_hash(cols, rows) -> str:
    from tests.compare import _norm

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr(([cols[i] for i in order], canon)).encode()).hexdigest()


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def oracle_hash(data_dir: str, sql: str) -> tuple[str, int]:
    """Run one oracle in DuckDB over views of the benchmark's parquet files."""
    import duckdb

    from eviction_lab_etl_spark.sources.loader import TABLES

    con = duckdb.connect()
    try:
        for table in TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
    finally:
        con.close()
    return canonical_hash(cols, rows), len(rows)


class Checker:
    """Maps each query name to the hash its collected result must have."""

    def __init__(self, oracles: dict[str, str], data_dir: str, cache_path: str) -> None:
        self.oracles = oracles
        self.data_dir = data_dir
        self.cache_path = cache_path
        with open(EXPECTED_PATH) as f:
            self.cached = json.load(f)["queries"]
        self.expected: dict[str, str] = {}

    def prepare(self, names) -> None:
        """Resolve every expected hash up front, outside any timed region."""
        cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as f:
                cache = json.load(f)
        dirty = False
        for name in names:
            sql = self.oracles.get(name)
            if sql is None:
                continue
            digest = sql_digest(sql)
            entry = self.cached.get(name, {})
            if entry.get("oracle_sha256") == digest:
                self.expected[name] = entry["hash"]
            elif cache.get(name, {}).get("oracle_sha256") == digest:
                self.expected[name] = cache[name]["hash"]
            else:
                value, rows = oracle_hash(self.data_dir, sql)
                cache[name] = {"oracle_sha256": digest, "hash": value, "rows": rows}
                self.expected[name] = value
                dirty = True
        if dirty:
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            with open(self.cache_path, "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)

    def ok(self, name: str, cols, rows) -> bool:
        """True when the result matches; a query with no expected hash fails."""
        want = self.expected.get(name)
        return want is not None and canonical_hash(cols, rows) == want
