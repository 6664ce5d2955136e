"""SparkSession factory applying the engine-wide configuration contract.

Config rationale (SURVEY.md §1.2/§4):
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the ``events`` fixture stores
  ``ts`` as parquet TIMESTAMP(NANOS); PySpark 4.x refuses it otherwise
  ([PARQUET_TYPE_ILLEGAL]). The loader then rebuilds a µs timestamp with exact
  integer division (see sources/loader.py).
- ``spark.sql.session.timeZone=UTC``: timestamps must render identically to the
  DuckDB oracle's naive (UTC) timestamps.
- AQE on: runtime partition coalescing, dynamic broadcast switch, and skew-join
  splitting — the scale path for 100 TB (skewed keys split without manual salting).
- Arrow on: every Pandas UDF / applyInPandas / mapInPandas crosses the
  JVM↔Python boundary in columnar Arrow batches instead of pickled rows.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that are runtime-settable (SQL confs): applied defensively even to
# driver-provided sessions we did not build ourselves. Every key must be
# modifiable at runtime — configure() runs on every load().
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Partition-overwrite only touches partitions present in the written frame —
    # this is the engine's incremental-rebuild primitive (the Make-mtime analog,
    # SURVEY §4.1) used by streaming foreachBatch upserts.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}

# Static confs: only the builder of a session we launch can set them; on a
# driver-provided session they keep the driver's values.
STATIC_CONFS: dict[str, str] = {
    # local[*] defaults to task.maxFailures=1, so one transient Python-worker
    # crash (observed ~1/100 mapInPandas stages under full-suite load) fails
    # the whole job; retry like a real cluster does.
    "spark.task.maxFailures": "4",
    # Dump the worker's Python stack on segfault/OOM kill instead of a bare
    # "worker exited unexpectedly" — costs nothing, makes crashes attributable.
    "spark.python.worker.faulthandler.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile (idempotent).

    Python UDF closures reference module-level helpers, which cloudpickle
    serializes BY REFERENCE — the worker must be able to import
    ``eviction_lab_etl_spark``. Workers inherit the driver's cwd, not its
    sys.path, so a driver launched from any other directory gets
    ModuleNotFoundError inside mapInPandas/UDF stages. Shipping the package
    zip is the same move a real cluster deployment makes (--py-files)."""
    sc = spark.sparkContext
    if getattr(sc, "_elspark_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"elspark_pkg_{os.getpid()}_{id(sc)}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(dirpath, fname)
                        z.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zpath)
    except Exception:
        # e.g. a stopped context mid-teardown; the next configure() retries.
        return
    sc._elspark_pkg_shipped = True  # type: ignore[attr-defined]


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    _ship_package(spark)
    return spark


def build_session(
    app_name: str = "eviction-lab-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine configuration contract.

    ``shuffle_partitions`` defaults to Spark's own default; tests and the local
    bench pass an explicit value sized to the core count (on a real cluster AQE
    coalesces the post-shuffle partitioning at runtime, so a generous static
    value is safe).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    # local[N] runs the driver AND all N executor threads in one JVM, whose
    # default heap is 1 GiB — 32 concurrent vectorized parquet scans OOM there
    # long before the data is "big" (observed at 10× sf0.1). Size the single
    # JVM like the sum of the executors it stands in for. Static conf: only
    # effective when this call actually launches the JVM.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("ELSPARK_DRIVER_MEMORY", "8g")
    )
    for key, value in {**RUNTIME_CONFS, **STATIC_CONFS}.items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    return configure(spark)
