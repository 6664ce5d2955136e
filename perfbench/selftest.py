"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. A quick run of one query through the untraced protocol must produce every
   end-to-end metric BENCHMARK.json declares, with the declared unit.
2. Two test-only fake queries, never registered with the program, must each
   count as failed: one returns a wrong result (a duplicated row), one raises.

Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

from run import ROOT, WORK_DIR, Runner, make_checker, prepare_env, setup_session, stop_spark

PROBE = "agg_sum_groupby"


class SelfTestFailure(Exception):
    pass


def check(condition: bool, message: str) -> None:
    if not condition:
        raise SelfTestFailure(message)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    tmp_dir = os.path.join(WORK_DIR, f"selftest-{os.getpid()}")
    prepare_env(tmp_dir)
    spark, registry, elapsed = setup_session()
    try:
        real = registry.QUERIES[PROBE]
        checker = make_checker(registry, [PROBE])

        runner = Runner(spark, {PROBE: real}, checker, random.Random(0))
        metrics = runner.end_to_end([elapsed], runner.measure([PROBE], 0))
        for name, unit in declared.items():
            check(name in metrics, f"end-to-end metric {name} missing")
            check(metrics[name]["unit"] == unit, f"{name}: unit {metrics[name]['unit']} != {unit}")
            print(f"{name} = {metrics[name]['value']:.6g} {unit}")
        check(runner.outcome.failed == 0, f"{PROBE} failed its own check")

        def duplicated_row(spark, data_dir):
            df = real(spark, data_dir)
            return df.union(df.limit(1))

        def raises(spark, data_dir):
            raise RuntimeError("injected failure")

        checker.expected["fake_duplicated_row"] = checker.expected[PROBE]
        fakes = {PROBE: real, "fake_duplicated_row": duplicated_row, "fake_raises": raises}
        runner = Runner(spark, fakes, checker, random.Random(0))
        m = runner.measure(list(fakes), 0)
        outcome = runner.outcome
        frac = runner.end_to_end([elapsed], m)["correct_frac"]["value"]
        print(f"with two fake queries: attempted {outcome.attempted}, failed {outcome.failed}, "
              f"correct_frac {frac:.4f}")
        check(outcome.failed == 2 * outcome.attempted // 3 and frac < 1,
              "fake queries were not counted as failed")
    except SelfTestFailure as exc:
        print(f"selftest FAILED: {exc}")
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp_dir, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
