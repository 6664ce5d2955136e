"""Regenerate OPERATORS.md (catalog) and PLANS.md (plan-audit evidence).

Usage: python tools/gen_reports.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.plans.audit import audit_all
from eviction_lab_etl_spark.session import build_session

GROUPS = [
    ("A. Scans / sources / sinks / layout", ("scan_", "io_", "layout_")),
    ("B. Projections / filters", ("filter_", "project_")),
    ("C. Joins", ("join_",)),
    ("C2. Complex analytical queries (extension)", ("complex_",)),
    ("D. Aggregations", ("agg_",)),
    ("E. Window functions", ("window_",)),
    ("F. Sorts / top-k", ("sort_",)),
    ("G. Set operations", ("setop_",)),
    ("H. Scalar functions", ("scalar_",)),
    ("I. Reshape", ("reshape_",)),
    ("J. Dedup / similarity / text", ("dedup_", "sim_", "text_", "ann_", "graph_", "embed_", "prune_")),
    ("J2. Sampling / splits / sketches / export (extension)",
     ("sample_", "split_", "sketch_", "export_")),
    ("J3. Training-set assembly (extension)", ("contam_", "pack_", "chunk_", "resample_", "mix_")),
    ("J4. Web/URL stage (extension)", ("web_",)),
    ("K. Streaming", ("stream_",)),
    ("K2. Event analytics / time series (extension)", ("events_", "ts_")),
    ("L. UDF surface", ("udf_", "udtf_")),
    ("M. Multimodal (extension)", ("multimodal_",)),
    ("N. Reference pipelines (extension)",
     ("pipeline_", "search_", "sql_", "profile_")),
    ("O. Geometry-lite (extension)", ("geo_",)),
    ("P. Incremental rebuild (extension)", ("incr_",)),
]


def gen_operators(path: str) -> None:
    lines = [
        "# Operator catalog (generated by tools/gen_reports.py — do not edit)",
        "",
        f"{len(registry.QUERIES)} registered queries; "
        f"{len(registry.ORACLES)} hash-checked against DuckDB oracles, "
        f"{sum(1 for c in registry.CHECKS.values() if c == 'rows')} rows-only "
        "(IO round-trips, approximate algorithms, watermark semantics).",
        "",
    ]
    seen = set()
    for title, prefixes in GROUPS:
        names = [
            n for n in sorted(registry.QUERIES)
            if n.startswith(prefixes) and n not in seen
        ]
        seen.update(names)
        lines += [f"## {title}", "", "| query | check | what it computes |", "|---|---|---|"]
        for n in names:
            doc = " ".join((registry.QUERIES[n].__doc__ or "").split())
            doc = doc.split(". ")[0].rstrip(".").replace("|", "\\|")
            if len(doc) > 110:
                doc = doc[:107] + "…"
            check = "oracle-hash" if n in registry.ORACLES else "rows-only"
            lines.append(f"| `{n}` | {check} | {doc} |")
        lines.append("")
    leftover = sorted(set(registry.QUERIES) - seen)
    assert not leftover, f"uncatalogued queries: {leftover}"
    with open(path, "w") as f:
        f.write("\n".join(lines))


def gen_plans(path: str, spark, sf_dir: str) -> None:
    report = audit_all(spark, sf_dir)
    lines = [
        "# Plan audit (generated by tools/gen_reports.py — do not edit)",
        "",
        f"Physical-plan facts for every auditable query at `{sf_dir}` "
        "(pre-execution adaptive plans). `bcast`/`smj` = broadcast-hash / "
        "sort-merge joins; `py`/`arrow` = row-Python / Arrow-batch boundaries. "
        "tests/test_plans.py asserts the load-bearing rows stay this way.",
        "",
        "| query | shuffles | bcast | smj | py | arrow | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in sorted(report):
        info = report[name]
        if "error" in info:
            lines.append(f"| `{name}` | — | — | — | — | — | error: {info['error'][:60]} |")
            continue
        pushed = "; ".join(p for p in info["pushed_filters"] if p) or "—"
        if len(pushed) > 70:
            pushed = pushed[:67] + "…"
        bcast = info["broadcast_joins"] + info["broadcast_nl_joins"]
        lines.append(
            f"| `{name}` | {info['shuffles']} | {bcast} | {info['sortmerge_joins']} "
            f"| {info['python_rows']} | {info['arrow_python']} | {pushed} |"
        )
    lines.append("")
    with open(path, "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all_operators()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gen_operators(os.path.join(repo, "OPERATORS.md"))
    spark = build_session(app_name="gen-reports", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    gen_plans(os.path.join(repo, "PLANS.md"), spark, sf_dir)
    print("wrote OPERATORS.md and PLANS.md")


if __name__ == "__main__":
    main()
