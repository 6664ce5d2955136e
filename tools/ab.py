"""Interleaved A/B of registered queries against a compute-bound companion:
is a suspect's drift from its regression base the host or the query?

Protocol (r8, first used on dedup_simhash_pairs): ONE session at the bench's
SF/parallelism (bench.env_session), then alternating reps of each suspect
against `agg_sum_groupby`, timed with bench.time_once. Interleaving means
any host swing hits both equally: if suspect_median / its base tracks
companion_median / companion base, the drift is the host; a suspect ratio
far above the companion's is a real slowdown to fix or re-pin. Bases are
bench.py's own pins (BASELINE_SEC, with TPCH_BASE_SEC winning for the
complex_* topologies); a suspect without a pin reports null ratios.

Usage: python tools/ab.py [reps] [suspect ...]
(default 9 reps; default suspects = the three r10-flagged topologies; sf
dir/CPUs via the bench env vars). Emits one JSON line per suspect.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from eviction_lab_etl_spark import registry  # noqa: E402

COMPANION = "agg_sum_groupby"
DEFAULT_SUSPECTS = [
    "complex_small_qty_revenue",
    "complex_sole_discount_supplier",
    "complex_top_supplier",
]
BASES = {**bench.BASELINE_SEC, **bench.TPCH_BASE_SEC}


def main() -> None:
    args = sys.argv[1:]
    reps = int(args[0]) if args and args[0].isdigit() else 9
    suspects = [a for a in args if not a.isdigit()] or DEFAULT_SUSPECTS
    registry.load_all_operators()
    spark, sf_dir = bench.env_session("elspark-ab")

    def one(name: str) -> float:
        return bench.time_once(spark, sf_dir, name)

    one(COMPANION)  # warm companion path once, untimed
    for suspect in suspects:
        one(suspect)  # warm suspect path, untimed
        sus, comp = [], []
        for _ in range(reps):
            sus.append(one(suspect))
            comp.append(one(COMPANION))
        m_sus = statistics.median(sus)
        m_comp = statistics.median(comp)
        host = m_comp / BASES[COMPANION]
        vs_base = m_sus / BASES[suspect] if suspect in BASES else None
        print(
            json.dumps(
                {
                    "metric": "ab",
                    "suspect": suspect,
                    "reps": reps,
                    "sf_dir": sf_dir,
                    "suspect_median": round(m_sus, 4),
                    "companion_median": round(m_comp, 4),
                    "host_factor": round(host, 3),
                    "ratio": round(m_sus / m_comp, 3),
                    "vs_base": round(vs_base, 3) if vs_base else None,
                    "vs_base_host_normalized": (
                        round(vs_base / host, 3) if vs_base else None
                    ),
                    "suspect_runs": [round(x, 4) for x in sus],
                    "companion_runs": [round(x, 4) for x in comp],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
