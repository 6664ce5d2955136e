"""Domain-cap skew A/B: the hot-key window vs the two-phase offset form.

web_domain_cap's docstring concedes its per-host row_number window funnels
each host through one reducer — and at web scale ONE domain can hold 10^9
pages. This harness builds exactly that shape synthetically (one mega-host
holding 90% of N rows + a 50-host long tail), checks the three plans keep
the SAME capped set, and times them:

1. `window`   — row_number over (host) — the registered form's shape.
2. `twophase` — range-bucketed counts -> per-bucket start offsets (tiny
   frame, broadcast) + local rank within (host, bucket) — the
   pack_interleave_sources sequence-assignment machinery aimed at the cap.
3. `pruned`   — twophase + the cap-specific win: buckets whose START
   offset already exceeds the cap cannot contribute a kept row, so the
   broadcast offset frame FILTERS the doc stream before any ranking —
   per-host work drops from O(rows) to O(cap + bucket), independent of how
   hot the domain is.

Usage: python tools/domain_cap_ab.py [N ...]     # default: 2_000_000 8_000_000
Runs on bench.py's session (local[$SPARK_GRAFT_CPUS]); prints one JSON line
per N; record results in SCALE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

import bench


CAP = 100
BKT = 4096


def corpus(spark, n: int):
    d = F.col("id")
    return spark.range(n).select(
        d.alias("doc_id"),
        F.when(d % 10 < 9, F.lit("mega.example.com"))
        .otherwise(F.concat(F.lit("tail"), (d % 50).cast("string"), F.lit(".example.com")))
        .alias("host"),
    )


def cap_window(docs):
    w = Window.partitionBy("host").orderBy("doc_id")
    return docs.select(
        "doc_id", "host", F.row_number().over(w).cast("long").alias("rk")
    ).filter(F.col("rk") <= CAP)


def _offsets(docs):
    counts = docs.groupBy("host", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    wo = (
        Window.partitionBy("host")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return counts.select(
        "host", "bkt", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("off")
    )


def cap_twophase(docs, prune: bool):
    b = docs.withColumn("bkt", F.expr(f"doc_id div {BKT}"))
    offs = _offsets(b)
    if prune:
        offs = offs.filter(F.col("off") < CAP)  # drops cold buckets
    joined = b.join(F.broadcast(offs), ["host", "bkt"])
    wl = Window.partitionBy("host", "bkt").orderBy("doc_id")
    return (
        joined.withColumn("lrk", F.row_number().over(wl))
        .select(
            "doc_id",
            "host",
            (F.col("off") + F.col("lrk")).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= CAP)
    )


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [2_000_000, 8_000_000]
    spark, _ = bench.env_session("domain-cap-ab")
    for n in ns:
        plans = {
            "window": lambda: cap_window(corpus(spark, n)),
            "twophase": lambda: cap_twophase(corpus(spark, n), prune=False),
            "pruned": lambda: cap_twophase(corpus(spark, n), prune=True),
        }
        # same-set check (checksum of kept doc_ids + count)
        sigs = {}
        for name, mk in plans.items():
            row = mk().agg(
                F.count(F.lit(1)).alias("c"), F.sum("doc_id").alias("s")
            ).collect()[0]
            sigs[name] = (row.c, row.s)
        assert len(set(sigs.values())) == 1, f"plans disagree: {sigs}"
        timings = {}
        for name, mk in plans.items():
            mk().write.format("noop").mode("overwrite").save()  # warm-up
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                mk().write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(statistics.median(runs), 4)
        print(
            json.dumps(
                {
                    "metric": "domain_cap_skew_ab",
                    "n_rows": n,
                    "mega_share": 0.9,
                    "cap": CAP,
                    "kept": sigs["window"][0],
                    "sec": timings,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
