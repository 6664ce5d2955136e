"""Dump ``explain("formatted")`` for named queries to files — the
before/after plan artifacts the optimization rounds commit under plans/rNN/.

Usage:
  python tools/dump_plans.py out_dir suffix [sf_dir] name [name ...]

sf_dir defaults to $SPARK_GRAFT_SF_DIR; the session is bench.py's
(local[$SPARK_GRAFT_CPUS], one shuffle partition per core).

Writes ``out_dir/<name>_<suffix>.txt`` per query (pre-execution adaptive
plan: Exchange count, join strategies, PushedFilters/ReadSchema and Python
boundaries are all visible before execution; AQE's runtime coalescing does
not change those facts).
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

import bench
from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.plans.audit import audit_plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)

    registry.load_all_operators()
    spark, sf_dir = bench.env_session("elspark-dump-plans")
    if len(sys.argv) > 3:
        sf_dir = sys.argv[3]

    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        info = audit_plan(df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(info["plan"])
        print(
            f"{name}: shuffles={info['shuffles']} bcast={info['broadcast_joins']}"
            f" smj={info['sortmerge_joins']} py={info['python_rows']}"
            f" arrow={info['arrow_python']} -> {path}"
        )


if __name__ == "__main__":
    main()
