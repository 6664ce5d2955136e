"""Skew-stress: measure the two hot-key strategies on pathologically skewed data.

Scale claim under test (README "Designed for 100 TB", SCALE.md): when one join
key dominates, AQE's skew-join split keeps the plain sort-merge join bounded,
and `plans/layout.salted_join` is the explicit form for keys you know about.
This experiment builds a fact table where ONE user owns half of all rows
(mult× sf0.1 events, copies ≥ half reassigned to user 0 — the "viral
document" shape), joins it to a per-user dimension, and times:

  1. plain sort-merge join, AQE skew-split ON (the default engine path)
  2. plain sort-merge join, AQE skew-split OFF (what a naive engine does)
  3. salted_join (explicit 16-way fan-out of every key)

Broadcast is disabled throughout — at 100 TB neither side of a fact↔fact join
broadcasts, and letting the 8 MB dim broadcast here would measure nothing.

Usage: python tools/skew_stress.py [mult]     # default 20 → 2M fact rows
Runs on bench.py's session (local[$SPARK_GRAFT_CPUS]); prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from eviction_lab_etl_spark.plans.layout import salted_join
from eviction_lab_etl_spark.sources.loader import load

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def build_skewed(spark, mult: int, hot_tenths: int = 9) -> str:
    # Cache keyed by the SOURCE dir too (scale_stress.scaled_dir precedent):
    # without src_tag, a run against a different SPARK_GRAFT_SF_DIR would
    # silently reuse the other corpus's cached build.
    src_tag = os.path.basename(os.path.normpath(SRC))
    dst = os.path.join(SCRATCH, f"skew_{src_tag}_x{mult}_h{hot_tenths}")
    marker = os.path.join(dst, "_COMPLETE")
    if os.path.exists(marker):
        return dst
    ev = load(spark, SRC, "events").select("event_id", "user_id", "value")
    fact = ev.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__copy")
    )
    # Copies above the cutoff all collapse onto user 0: one key owns
    # hot_tenths/10 of all rows (default 90% — a straggler that cannot hide
    # behind the parallel portion of the job).
    cutoff = mult * (10 - hot_tenths) // 10
    fact = fact.withColumn(
        "user_id",
        F.when(F.col("__copy") >= cutoff, F.lit(0)).otherwise(
            F.col("user_id") + F.col("__copy").cast("long") * F.lit(1_000_000)
        ),
    ).drop("__copy")
    fact.write.mode("overwrite").parquet(os.path.join(dst, "fact.parquet"))
    dim = (
        fact.select("user_id").distinct()
        .withColumn("segment", F.pmod(F.col("user_id"), F.lit(7)))
    )
    dim.write.mode("overwrite").parquet(os.path.join(dst, "dim.parquet"))
    open(marker, "w").close()
    return dst


def timed(spark, dst, skew_on: bool, salted: bool, heavy: bool = False) -> float:
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
    # Defaults only split partitions > 256 MB; the synthesized hot partition
    # sits just under that. Lower the trigger so the experiment actually
    # exercises the split (a real deployment tunes these to executor memory).
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32MB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")

    def run() -> None:
        fact = spark.read.parquet(os.path.join(dst, "fact.parquet"))
        dim = spark.read.parquet(os.path.join(dst, "dim.parquet"))
        if salted:
            joined = salted_join(fact, dim, "user_id", n_salts=16)
        else:
            joined = fact.join(dim, "user_id")
        if heavy:
            # Compute-heavy consumer: ~a sha2 chain per joined row, evaluated
            # in the JOIN task (map-side partial agg keeps the projection
            # pre-exchange). This is the fact↔fact pipeline shape where the
            # join output feeds real per-row work (feature extraction,
            # tokenization): with the trivial consumer below, scan+shuffle
            # swamps the hot task on a shared-memory host and all strategies
            # tie (SCALE.md's honest reading); with per-row work the 90%-key
            # task serializes 90% of total CPU and the salted fan-out is the
            # only thing standing between wall-clock and that straggler.
            row_work = F.length(
                F.sha2(
                    F.concat_ws(
                        "|",
                        F.sha2(F.concat_ws("|", "event_id", "user_id"), 256),
                        F.col("value").cast("string"),
                        F.col("segment").cast("string"),
                    ),
                    256,
                )
            )
            out = joined.groupBy("segment").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum(row_work).alias("sv")
            )
        else:
            out = joined.groupBy("segment").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")
            )
        out.write.format("noop").mode("overwrite").save()

    run()  # warm-up
    runs = []
    for _ in range(3):
        start = time.perf_counter()
        run()
        runs.append(time.perf_counter() - start)
    return round(statistics.median(runs), 4)


def build_skewed_sessions(spark, mult: int, hot_tenths: int = 9) -> str:
    """Hot-USER event stream for the sessionization skew case: mult x events
    with timestamps fanned out per copy (+37 s each, so the hot user's rows
    interleave in time like a real viral user's would, instead of collapsing
    onto duplicate timestamps); copies above the cutoff all become user 0."""
    src_tag = os.path.basename(os.path.normpath(SRC))
    dst = os.path.join(SCRATCH, f"skew_sess_{src_tag}_x{mult}_h{hot_tenths}")
    marker = os.path.join(dst, "_COMPLETE")
    if os.path.exists(marker):
        return dst
    ev = load(spark, SRC, "events").select("event_id", "user_id", "ts")
    fact = ev.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__copy")
    )
    cutoff = mult * (10 - hot_tenths) // 10
    fact = (
        fact.withColumn(
            "user_id",
            F.when(F.col("__copy") >= cutoff, F.lit(0)).otherwise(
                F.col("user_id") + F.col("__copy").cast("long") * F.lit(1_000_000)
            ),
        )
        .withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros("ts") + F.col("__copy").cast("long") * 37_000_000
            ),
        )
        .drop("__copy")
    )
    fact.write.mode("overwrite").parquet(os.path.join(dst, "events.parquet"))
    open(marker, "w").close()
    return dst


def timed_session(spark, dst: str, two_phase: bool) -> float:
    """Native session_window vs sessionize_two_phase on the hot-user stream.

    Native partitions the aggregation exchange by user_id alone — the 90%
    user serializes into one Sort+MergingSessions task, and AQE cannot split
    a non-join exchange. The two-phase form fans the hot user over
    (user_id, day-bucket) and interval-merges the resulting session rows."""
    from eviction_lab_etl_spark.streaming.batch_windows import (
        sessionize_two_phase,
    )

    def run() -> None:
        ev = spark.read.parquet(os.path.join(dst, "events.parquet"))
        if two_phase:
            out = sessionize_two_phase(ev).select(
                "user_id", F.unix_micros("start_ts").alias("s"), "n_events"
            )
        else:
            out = (
                ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("st"))
                .select("user_id", F.unix_micros("st").alias("s"), "n_events")
            )
        out.write.format("noop").mode("overwrite").save()

    run()  # warm-up
    runs = []
    for _ in range(3):
        start = time.perf_counter()
        run()
        runs.append(time.perf_counter() - start)
    return round(statistics.median(runs), 4)


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark, _ = bench.env_session("elspark-skew-stress")
    # Force the fact↔dim join onto the shuffle path (the 100 TB shape).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    dst = build_skewed(spark, mult)
    sess_dst = build_skewed_sessions(spark, mult)
    results = {
        "smj_aqe_skew_on": timed(spark, dst, skew_on=True, salted=False),
        "smj_aqe_skew_off": timed(spark, dst, skew_on=False, salted=False),
        "salted_16": timed(spark, dst, skew_on=False, salted=True),
        # Heavy-consumer A/B (the join-skew analog of the sessionization
        # case): per-row post-join work makes the hot task the wall-clock.
        "heavy_smj_aqe_skew_on": timed(
            spark, dst, skew_on=True, salted=False, heavy=True
        ),
        "heavy_smj_aqe_skew_off": timed(
            spark, dst, skew_on=False, salted=False, heavy=True
        ),
        "heavy_salted_16": timed(
            spark, dst, skew_on=False, salted=True, heavy=True
        ),
        "session_native_hot": timed_session(spark, sess_dst, two_phase=False),
        "session_two_phase_hot": timed_session(spark, sess_dst, two_phase=True),
    }
    print(
        json.dumps(
            {
                "metric": "skew_stress",
                "mult": mult,
                "unit": "sec",
                "strategies": results,
                "base_sf": SRC,
            }
        )
    )


if __name__ == "__main__":
    main()
