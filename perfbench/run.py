"""Layered benchmark of eviction_lab_etl_spark at local[4].

Run from the repository root:

    python3 perfbench/run.py --workload etl_tpch --seed 1 --seconds 10 --trace 0

One client runs the workload's queries one at a time and ``collect()``s each
result (a closed loop). The input data is fixed (``perfbench/data``, the sf0.01
fixture tables); the seed shuffles the query order within each pass. A run:

1. sets the session up five times (registry import, ``build_session``,
   package shipping; the first also launches the JVM) -> ``setup_s``, the
   median;
2. runs one cold pass in the workload's order, which warms the JVM up (the
   traced run reports its wall as ``jvm.cold_pass_s``);
3. runs about ``--seconds`` of shuffled warm passes (a fixed count, at least
   three; see ``NOMINAL_PASS_S``) -> ``batch_s``
   (median pass wall) and ``query_geomean_s`` (geometric mean of per-query
   medians);
4. checks every collected result against its expected hash after the query's
   timing stops -> ``correct_frac``.

With ``--trace 1`` the run instead reports the per-layer metrics of
``tracing.py``. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
PKG = "eviction_lab_etl_spark"
CORES = 4
SETUPS = 5
# A warm pass of either workload takes about this long at local[4] on a
# 4-vCPU host. A run measures round(seconds / NOMINAL_PASS_S) passes, at
# least MIN_WARM_PASSES: the JVM is still speeding up after five passes, so
# a fixed count keeps every run's measured passes at the same positions.
NOMINAL_PASS_S = 5.0
MIN_WARM_PASSES = 3


def prepare_env(tmp_dir: str) -> None:
    """Keep every file Spark, Python workers and the queries write under tmp_dir."""
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = tmp_dir
    confs = {
        "spark.local.dir": tmp_dir,
        "spark.ui.showConsoleProgress": "false",
        # The stage-metrics reader talks to the UI on the loopback address.
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    args = [f"--conf={k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options=-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    # spark-submit first runs a short-lived launcher JVM; keep its files here too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup_session(previous=None):
    """One timed set-up: registry import, session build and package shipping.

    Stops ``previous`` first (untimed) and drops the package's modules, so each
    set-up imports the registry afresh on a new SparkContext."""
    if previous is not None:
        previous.stop()
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    t0 = time.perf_counter()
    registry = importlib.import_module(PKG + ".registry")
    registry.load_all_operators()
    session = importlib.import_module(PKG + ".session")
    spark = session.build_session(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, registry, elapsed


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Outcome:
    """Counts query executions and the ones that raised or failed the check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def shuffled(names: list[str], rng: random.Random) -> list[str]:
    order = list(names)
    rng.shuffle(order)
    return order


class Runner:
    """Runs a workload's queries on one session, one at a time (a closed loop)."""

    def __init__(self, spark, queries: dict, checker, rng: random.Random) -> None:
        from pyspark import SparkContext

        from procfs import EngineProbe

        self.spark = spark
        self.queries = queries
        self.checker = checker
        self.rng = rng
        self.outcome = Outcome()
        self.probe = EngineProbe(SparkContext._gateway.proc.pid)

    def run_query(self, name: str) -> tuple[float, float]:
        """Build and collect one query -> (wall s, engine CPU s). The check runs after."""
        cpu0 = self.probe.cpu_s()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, DATA_DIR)
            rows = df.collect()
            wall = time.perf_counter() - t0
            cpu = self.probe.cpu_s() - cpu0
            ok = self.checker.ok(name, df.columns, rows)
        except Exception:
            wall = time.perf_counter() - t0
            cpu = self.probe.cpu_s() - cpu0
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: {name} failed", file=sys.stderr)
        self.outcome.record(ok)
        df = rows = None
        gc.collect()
        return wall, cpu

    def run_pass(self, order: list[str]) -> dict[str, tuple[float, float]]:
        result = {name: self.run_query(name) for name in order}
        print("perfbench: pass " + json.dumps({n: round(w, 3) for n, (w, _) in result.items()}),
              file=sys.stderr)
        return result

    def cold_pass(self, names: list[str]) -> float:
        """The first pass, in the workload's own order; it also warms the JVM up."""
        return sum(w for w, _ in self.run_pass(names).values())

    def measure(self, names: list[str], seconds: float) -> dict:
        """The untraced protocol: the cold pass, then about ``seconds`` of shuffled warm passes."""
        self.cold_pass(names)
        count = max(MIN_WARM_PASSES, round(seconds / NOMINAL_PASS_S))
        warm = [self.run_pass(shuffled(names, self.rng)) for _ in range(count)]
        per_query = [statistics.median(p[n][0] for p in warm) for n in names]
        return {
            "batch_s": statistics.median(sum(w for w, _ in p.values()) for p in warm),
            "batch_cpu_s": statistics.median(sum(c for _, c in p.values()) for p in warm),
            "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in per_query)),
        }

    def end_to_end(self, setups: list[float], m: dict) -> dict:
        """The untraced run's metrics, by the names BENCHMARK.json declares."""
        return {
            "setup_s": metric(statistics.median(setups), "s"),
            "batch_s": metric(m["batch_s"], "s"),
            "batch_cpu_s": metric(m["batch_cpu_s"], "s"),
            "query_geomean_s": metric(m["query_geomean_s"], "s"),
            "correct_frac": metric(1 - self.outcome.failed / self.outcome.attempted, "ratio"),
        }


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def make_checker(registry, names: list[str]):
    from checks import Checker

    checker = Checker(registry.ORACLES, DATA_DIR, os.path.join(WORK_DIR, "oracle-cache.json"))
    checker.prepare(names)
    return checker


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    names = WORKLOADS[args.workload]
    tmp_dir = os.path.join(WORK_DIR, f"tmp-{os.getpid()}")
    prepare_env(tmp_dir)
    spark = runner = None
    try:
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            spark, registry, elapsed = setup_session(spark)
            setups.append(elapsed)
        checker = make_checker(registry, names)
        runner = Runner(spark, {n: registry.QUERIES[n] for n in names}, checker,
                        random.Random(args.seed))
        if args.trace:
            from tracing import traced_run

            metrics = traced_run(runner, names, args)
        else:
            metrics = runner.end_to_end(setups, runner.measure(names, args.seconds))
            print(f"perfbench: setups {setups}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp_dir, ignore_errors=True)
    outcome = runner.outcome
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
