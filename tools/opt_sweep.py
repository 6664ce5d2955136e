"""Round-15 optimization sweep: time EVERY registered query and capture its
executed plan's scale-relevant facts in one pass.

Protocol (guide §1): per query, one untimed warm-up (plan compile + JIT + IO
cache) then N timed reps of the same ``collect()`` the bench harness times;
the executed plan is audited AFTER the warm-up run so AQE's final plan (with
codegen ids) is what gets counted. Output: one JSON file
``{name: {"median_sec", "runs", "shuffles", "sortmerge_joins", ...}}``.

Usage:
  python tools/opt_sweep.py out.json [sf_dir] [reps] [name ...]

sf_dir defaults to $SPARK_GRAFT_SF_DIR; the session is bench.py's
(local[$SPARK_GRAFT_CPUS], one shuffle partition per core).

Set SPARK_GRAFT_SINK=noop to time ``df.write.format("noop")`` instead of
``collect()`` (guide §1.4: computes every column of every row without paying
driver deserialization — the right sink for wide/large outputs where collect
would time the driver, not the computation).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

import bench
from eviction_lab_etl_spark import registry
from eviction_lab_etl_spark.plans.audit import audit_plan


def main() -> None:
    out_path = sys.argv[1]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    registry.load_all_operators()
    names = sys.argv[4:] or sorted(registry.QUERIES)
    names = [n for n in names if n in registry.QUERIES]
    spark, sf_dir = bench.env_session("elspark-opt-sweep")
    if len(sys.argv) > 2:
        sf_dir = sys.argv[2]

    noop = os.environ.get("SPARK_GRAFT_SINK") == "noop"

    def sink(df) -> None:
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    report: dict[str, dict] = {}
    t_sweep = time.perf_counter()
    for i, name in enumerate(names):
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"opt-sweep: {name}")
        try:
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            sink(df)  # warm-up; also finalizes the AQE plan for the audit
            warm = time.perf_counter() - t0
            info = audit_plan(df)
            info.pop("plan", None)
            info.pop("read_schema", None)
            # Drop the warm-up frame BEFORE the timed reps: queries with
            # finalizer-bounded pins (functions/pins.py) keep their caches
            # alive exactly as long as this handle, and a live warm-up cache
            # lets a rep's identical plan dedupe onto already-materialized
            # blocks — flattering rep 1 (bench.py's time_once never holds the
            # previous frame, so this matches its cache-cold-per-rep reality).
            del df
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                sink(fn(spark, sf_dir))  # fresh DataFrame per rep
                runs.append(time.perf_counter() - t0)
            info["first_sec"] = round(warm, 4)
            info["median_sec"] = round(statistics.median(runs), 4)
            info["runs"] = [round(r, 4) for r in runs]
            report[name] = info
        except Exception as exc:
            report[name] = {"error": f"{type(exc).__name__}: {exc}"}
        finally:
            spark.sparkContext.setJobDescription(None)
        if (i + 1) % 25 == 0:
            print(
                f"[{i + 1}/{len(names)}] {time.perf_counter() - t_sweep:.0f}s",
                file=sys.stderr,
                flush=True,
            )

    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    timed = {n: r["median_sec"] for n, r in report.items() if "median_sec" in r}
    print(f"swept {len(report)} queries, total median mass {sum(timed.values()):.1f}s")
    for n, s in sorted(timed.items(), key=lambda kv: -kv[1])[:30]:
        print(f"{s:8.3f}  {n}")


if __name__ == "__main__":
    main()
