"""Regenerate ``expected.json``: the DuckDB oracle hash of every workload query.

    python3 perfbench/pin_expected.py

Each hash is the canonical hash (``checks.canonical_hash``) of the query's
DuckDB oracle over ``perfbench/data``, stored with the SHA-256 of the oracle's
SQL so that a changed oracle is recomputed at run time instead of trusted.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from eviction_lab_etl_spark import registry

    from checks import EXPECTED_PATH, oracle_hash, sql_digest
    from run import DATA_DIR
    from workloads import WORKLOADS

    registry.load_all_operators()
    out = {}
    for name in sorted({n for names in WORKLOADS.values() for n in names}):
        sql = registry.ORACLES.get(name)
        if sql is None:
            raise SystemExit(f"{name} has no DuckDB oracle, so the benchmark cannot check it")
        value, rows = oracle_hash(DATA_DIR, sql)
        out[name] = {"oracle_sha256": sql_digest(sql), "hash": value, "rows": rows}
    with open(EXPECTED_PATH, "w") as f:
        json.dump({"data": "perfbench/data (the sf0.01 fixture tables)", "queries": out},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} oracle hashes written to {EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
