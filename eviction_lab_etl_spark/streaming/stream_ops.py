"""True Structured Streaming operators (SURVEY §2.K, rows-only half).

These replay the events parquet through a real ``readStream`` with watermarks
and stateful operators — behavior no batch SQL oracle can express, so the
driver records rows-only checks (SURVEY §5.2 item 5 by design).

``stream_foreachbatch_upsert`` is the engine's incremental-rebuild primitive:
the moral equivalent of the reference's Make-mtime partial rebuilds (R1) —
each micro-batch upserts only the day-partitions it touched, via dynamic
partition overwrite.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eviction_lab_etl_spark.registry import query
from eviction_lab_etl_spark.sources.loader import load, normalize_events_ts, read_parquet


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, applying the ts-nanos recipe."""
    batch = read_parquet(spark, f"{sf_dir}/events.parquet")
    # The streaming file source requires a directory: load the sf_dir with a
    # glob filter selecting just the events file.
    stream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(stream)


def _scratch(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"elspark_stream_{name}_{uuid.uuid4().hex[:8]}")


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> tuple[SparkSession, str]:
    """Run a streaming frame to completion into a memory sink; return table name."""
    name = f"elspark_mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", _scratch("ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession, name


@query("stream_watermark_late")  # rows-only: watermark semantics, no SQL oracle
def stream_watermark_late(spark, sf_dir):
    """Tumbling daily aggregate under a 1-hour watermark: the streaming engine
    tracks max(ts)-1h and drops later-arriving rows; with an ordered replay
    nothing is late, so counts equal the batch tumbling result.
    tests/test_stream_equivalence.py asserts that equality EXACTLY (batch
    minus the enumerated watermark-withheld tail day) and separately proves
    the late-drop path with an out-of-order multi-batch replay."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.to_date("w.start").alias("wstart"), "cnt")
    )
    session, table = _run_to_memory(agg, "append")
    return session.table(table)


@query("stream_dedup_watermark")  # rows-only
def stream_dedup_watermark(spark, sf_dir):
    """Streaming exactly-once dedup: dropDuplicatesWithinWatermark keeps state
    only within the watermark horizon — bounded memory at unbounded input.
    tests/test_stream_equivalence.py replays a corpus with planted duplicate
    event_ids and asserts the emitted set is exactly the distinct set."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    session, table = _run_to_memory(deduped, "append")
    return session.table(table)


def stateful_profile(stream: DataFrame) -> DataFrame:
    """The stream_stateful_counter core over an ARBITRARY event stream: a
    per-user (count, total) GroupState updated each micro-batch, one update
    row emitted per touched user per batch. Factored out so the replay-
    determinism test (tests/test_stream_replay.py) drives the SAME state
    machine through a controlled multi-batch file source."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total_value": [total]}
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="cnt long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query("stream_stateful_counter")  # rows-only: custom state machine, no SQL oracle
def stream_stateful_counter(spark, sf_dir):
    """Custom stateful streaming operator via ``applyInPandasWithState``: a
    per-user running profile (event count + cumulative value) maintained in
    explicit GroupState across micro-batches — the escape hatch for operators
    Spark's built-in stateful set (window/session/dedup) cannot express.

    State is one (count, total) pair per user: bounded memory per key,
    shuffle-partitioned by user_id — the same layout a 1000-executor job
    needs. With an availableNow full replay the emitted final states equal the
    batch groupBy, which tests/test_rows_only.py asserts; the multi-batch
    state-carry chain is pinned exactly in tests/test_stream_replay.py."""
    counted = stateful_profile(_events_stream(spark, sf_dir))
    session, table = _run_to_memory(counted, "update")
    # One state row per user per micro-batch update: keep the final snapshot
    # (max n_events) per user for a deterministic result surface.
    snap = session.table(table)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def run_daily_upsert(stream: DataFrame, out_path: str) -> None:
    """The stream_foreachbatch_upsert core over an ARBITRARY event stream:
    per micro-batch, dynamic-partition-overwrite the day partitions present
    in that batch. Factored out so the replay-determinism test drives the
    SAME upsert through a controlled multi-batch file source.

    CONTRACT (r13 ADVICE, stated explicitly): overwrite is LAST-WRITER-WINS
    per day partition. If one day's events span multiple micro-batches, the
    final partition holds only the LAST batch's partial count — correct for
    the stated 'rebuild the stale targets present in this batch' semantics
    (and pinned exactly by tests/test_stream_replay.py), but an undercount
    whenever a day straddles a batch boundary. Callers that expect
    day-spanning input must either (a) route whole days into single batches
    (the availableNow-over-daily-files layout the registered query uses), or
    (b) use a merge strategy instead: read-modify-write of the target
    partition inside ``upsert``, or a watermarked stateful aggregation
    upstream of foreachBatch so each day is emitted once, complete."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        daily = batch_df.groupBy(F.to_date("ts").alias("od")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        daily.write.mode("overwrite").partitionBy("od").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", _scratch("ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query("stream_foreachbatch_upsert")  # rows-only
def stream_foreachbatch_upsert(spark, sf_dir):
    """Incremental rebuild via foreachBatch (R1 analog): each micro-batch
    computes its daily counts and dynamic-partition-overwrites exactly the
    day-partitions present in the batch — the Make-mtime 'rebuild only stale
    targets' contract, expressed as a streaming upsert. The overwrite (not
    merge) semantics under a day split across batches are pinned exactly in
    tests/test_stream_replay.py."""
    out_path = _scratch("daily_agg")
    run_daily_upsert(_events_stream(spark, sf_dir), out_path)
    return spark.read.parquet(out_path)


@query("stream_stream_join")  # rows-only: stream-stream state semantics
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: each purchase joined to signups of the
    same user within the preceding hour — both sides unbounded streams.

    This is the stateful shape watermarks exist for: each side buffers rows in
    state only until the other side's watermark passes the interval bound,
    giving bounded state on unbounded input (without the interval condition +
    watermarks, Spark rejects the join as requiring infinite state). Batch
    analog checked in tests: the same join as a plain batch range join."""
    stream = _events_stream(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    signups = (
        stream.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("signup_event_id"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_event_id", "signup_event_id")
    session, table = _run_to_memory(joined, "append")
    return session.table(table)


@query("stream_snapshot_sink")  # rows-only: transactional sink protocol, no SQL oracle
def stream_snapshot_sink(spark, sf_dir):
    """Exactly-once streaming sink via the ACID snapshot table
    (sources/snapshot.py): each micro-batch's daily counts commit as ONE
    atomic snapshot version carrying the batch id in the manifest metadata.
    Effectively-once delivery is the composition of (a) Structured
    Streaming's checkpoint replaying a failed batch with the SAME batch id
    and (b) the sink committing with ``txn=("batch_id", id)`` — the
    transactional-sink pattern Delta's ``txnAppId``/``txnVersion``
    implements, built here on the manifest protocol alone. The ledger check
    is PROTOCOL-level (tests/test_snapshot.py::
    test_paced_stream_soak_versioned_cdf_and_replay soaks it end to end:
    maxFilesPerTrigger=1 paces >=5 micro-batches into the sink, every
    version-to-version CDF is append-pure and re-aggregates to the one-shot
    batch answer, and a crash planted between the checkpoint's offset write
    and commit marker replays without a duplicate version): it re-runs
    inside the commit's claim-retry loop each
    time the head is re-read, so even two concurrent writers replaying the
    same batch cannot both commit (tests/test_snapshot.py pins both the
    replay-recovery and the racing-writer case). A reader never sees a torn
    batch: the data files land invisibly first and become visible only with
    the atomic manifest claim. At 100 TB each commit touches only its own
    batch's files; the ledger is incrementally cached, so a micro-batch
    reads O(new versions) manifests, driver-side, data-free."""
    from eviction_lab_etl_spark.sources.snapshot import SnapshotTable

    table = SnapshotTable(_scratch("snap_sink"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        daily = batch_df.groupBy(F.to_date("ts").alias("od")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # Exactly-once per batch id: a checkpoint replay of an already-
        # durable batch returns the existing version without committing.
        table.append(daily, txn=("batch_id", batch_id))

    stream = _events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", _scratch("ckpt_snap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Replay the last batch id by hand: the ledger must make it a no-op.
    versions_before = table.latest_version()
    done = max(table.committed_meta("batch_id"))
    commit_batch(read_parquet(spark, f"{sf_dir}/events.parquet").limit(1), done)
    if table.latest_version() != versions_before:
        raise RuntimeError("duplicate batch committed")
    return (
        table.read(spark)
        .groupBy("od")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


@query("stream_static_enrich")  # rows-only: streaming side, no SQL oracle
def stream_static_enrich(spark, sf_dir):
    """Stream-static join — the third join mode Structured Streaming offers
    (after batch and stream-stream): each micro-batch of the event stream
    enriches against a STATIC dimension (customer segment keyed by user id)
    that is re-resolved per batch, the pattern behind every streaming
    enrichment against a slowly-changing dimension table. No watermark and
    no join state: the static side is broadcast into each micro-batch, so
    state size is zero regardless of stream length — the property that
    distinguishes this mode from stream-stream. Emits per-segment event
    counts; tests assert exact equality with the batch join."""
    stream = _events_stream(spark, sf_dir)
    segments = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = (
        stream.join(F.broadcast(segments), "user_id", "left")
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    session, table = _run_to_memory(enriched, "complete")
    return session.table(table)
