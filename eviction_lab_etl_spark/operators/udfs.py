"""Group L — UDF / UDAF / UDTF surface (SURVEY §2.L).

The reference's per-row/per-group pandas transforms (R4/R6/R9) re-expressed on
Spark's Python-execution tiers, slowest to fastest:

- row-at-a-time Python UDF (`udf_py_scalar`) — demonstrated once, deliberately;
- Arrow-vectorized pandas UDF (`udf_pandas_scalar`, `udf_pandas_agg`) — the
  10-100× faster default when Python is genuinely needed;
- grouped-map applyInPandas (`udf_grouped_map`) — whole-group pandas frames;
- Python UDTF (`udtf_explode_pos`) — table-valued expansion.

Everything else in this engine stays JVM-side; these exist because the
*capability surface* must exist (custom per-group logic the built-ins can't
express), not because these particular examples need Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from eviction_lab_etl_spark.registry import query
from eviction_lab_etl_spark.sources.loader import load


@query(
    "udf_py_scalar",
    oracle="""
    SELECT c_custkey, printf('C-%05d', c_custkey) AS tag
    FROM customer
    """,
)
def udf_py_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF (R6/R9 label formatting). Kept as the one
    deliberate example of the slow tier — every row crosses the JVM↔Python
    boundary individually."""
    fmt = F.udf(lambda k: f"C-{k:05d}", "string")
    customer = load(spark, sf_dir, "customer")
    return customer.select("c_custkey", fmt("c_custkey").alias("tag"))


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT doc_id, (n_chars // 10) * 10 AS bucket
    FROM documents
    """,
)
def udf_pandas_scalar(spark, sf_dir):
    """Arrow-vectorized scalar pandas UDF (X): whole columns move as Arrow
    batches; the Python work is one vectorized numpy expression."""

    @pandas_udf("long")
    def bucket10(n: pd.Series) -> pd.Series:
        return (n // 10) * 10

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", bucket10("n_chars").alias("bucket"))


@query(
    "udf_grouped_map",
    oracle="""
    SELECT event_type, event_id,
           row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS seq
    FROM events
    """,
)
def udf_grouped_map(spark, sf_dir):
    """Grouped-map applyInPandas (R4/X): each event_type group arrives as one
    pandas frame; we emit a per-group sequence number. This is the surface for
    per-group logic Spark built-ins can't express (the example is verifiable
    against a window-function oracle on purpose)."""

    def seq_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        pdf["seq"] = range(1, len(pdf) + 1)
        return pdf[["event_type", "event_id", "seq"]]

    events = load(spark, sf_dir, "events").select("event_type", "event_id", "ts")
    return events.groupBy("event_type").applyInPandas(
        seq_group, schema="event_type string, event_id long, seq long"
    )


@query(
    "udf_pandas_agg",
    oracle="""
    SELECT event_type, CAST(sum(user_id) AS BIGINT) AS s
    FROM events
    GROUP BY event_type
    """,
)
def udf_pandas_agg(spark, sf_dir):
    """Custom UDAF as a GROUPED_AGG pandas UDF (X) — integer-exact, so safe to
    hash (float UDAFs would need the decimal discipline instead)."""

    @pandas_udf("long")
    def sum_users(u: pd.Series) -> int:
        return int(u.sum())

    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(sum_users("user_id").alias("s"))


@query(
    "udtf_explode_pos",
    oracle="""
    SELECT doc_id,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 50
    """,
)
def udtf_explode_pos(spark, sf_dir):
    """Python UDTF (PySpark ≥3.5): tokenize with 1-based positions. The DuckDB
    oracle zips two parallel unnests (DuckDB 1.0 lacks WITH ORDINALITY).
    Arrow-batched per UDTF (``useArrow=True``), so the boundary does not
    depend on the session's pythonUDTF.arrow.enabled conf."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, word string", useArrow=True)
    class TokenizeWithPos:
        def eval(self, text: str):
            for i, word in enumerate(text.split(" ")):
                yield i + 1, word

    spark.udtf.register("tokenize_with_pos", TokenizeWithPos)
    load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).createOrReplaceTempView("udtf_docs_head")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM udtf_docs_head d, LATERAL tokenize_with_pos(d.text) t
        """
    )


@query(
    "udf_arrow_map",
    oracle="""
    SELECT event_id,
           event_id % 7 AS bucket,
           user_id * 2 AS uid2
    FROM events
    """,
)
def udf_arrow_map(spark, sf_dir):
    """mapInArrow (X): the zero-copy Arrow-native batch map — RecordBatches
    flow straight from Tungsten into pyarrow.compute kernels with no pandas
    materialization in between, the lowest-overhead Python boundary Spark
    has (mapInPandas pays the Arrow->pandas conversion both ways; this
    skips it). The transform is integer-exact so the oracle can state the
    full expected table. At 100 TB this is the boundary to reach for when
    custom vectorized logic must touch every row of a fact table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def arrow_buckets(batches):
        for batch in batches:
            eid = batch.column("event_id")
            uid = batch.column("user_id")
            seven = pa.scalar(7, type=pa.int64())
            bucket = pc.subtract(
                eid, pc.multiply(pc.divide(eid, seven), seven)
            )
            yield pa.RecordBatch.from_arrays(
                [eid, bucket, pc.multiply(uid, pa.scalar(2, type=pa.int64()))],
                names=["event_id", "bucket", "uid2"],
            )

    events = load(spark, sf_dir, "events").select("event_id", "user_id")
    return events.mapInArrow(
        arrow_buckets, schema="event_id long, bucket long, uid2 long"
    )


@query(
    "udtf_dynamic_schema",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS w1,
           string_split(text, ' ')[2] AS w2,
           string_split(text, ' ')[3] AS w3
    FROM documents WHERE doc_id < 100
    """,
)
def udtf_dynamic_schema(spark, sf_dir):
    """Spark 4 POLYMORPHIC Python UDTF: the output schema is computed at
    ANALYSIS time by the UDTF's analyze() from its literal argument (here
    n=3 → columns w1..w3) — the API for table functions whose shape depends
    on how they're called (dynamic pivots, configurable parsers), which a
    fixed-returnType UDTF cannot express. The call site is a SQL LATERAL
    join, the second UDTF surface (udtf_explode_pos covers the static-
    schema form). Missing tokens yield NULL, matching the oracle's
    out-of-bounds list indexing, and NULL text propagates NULL (never '' —
    string_split(NULL) in the oracle is NULL, so the guard must not
    conflate empty and missing). The doc_id filter is applied BELOW the
    view: Catalyst cannot push a predicate through a UDTF, so filtering
    after the LATERAL would tokenize the whole corpus and discard 80% —
    pre-filtering keeps the pushdown at the parquet scan. Arrow transfer
    is requested per UDTF (``useArrow=True``) rather than through the
    session's pythonUDTF.arrow.enabled conf, which this query leaves
    untouched: the boundary is Arrow-batched like the rest of the Python
    surface whatever ran before it."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf
    from pyspark.sql.types import StringType, StructType

    @udtf(useArrow=True)
    class HeadTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"w{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            if text is None:
                yield (None,) * n
                return
            toks = text.split(" ")
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    spark.udtf.register("head_tokens", HeadTokens)
    load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT doc_id, t.*
        FROM documents_udtf, LATERAL head_tokens(text, 3) t
        """
    )


@query(
    "udf_cogrouped_map",
    oracle="""
    WITH e AS (
        SELECT user_id AS k, count(*) AS n_events
        FROM events WHERE user_id <= 1500 GROUP BY user_id
    ),
    o AS (
        SELECT o_custkey AS k, count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(e.k, o.k) AS k,
           coalesce(n_events, 0) AS n_events,
           coalesce(n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON e.k = o.k
    """,
)
def udf_cogrouped_map(spark, sf_dir):
    """The COGROUPED pandas boundary (cogroup().applyInPandas — the
    FlatMapCoGroupsInPandas node): two datasets partitioned on a shared key
    arrive as one pandas frame PAIR per key, the API for per-key
    reconciliation logic too imperative for a join (sequence alignment,
    custom merge policies). Here each (events-by-user, orders-by-customer)
    pair reduces to exact counts, so the result equals a FULL OUTER JOIN of
    the two aggregates — which is exactly what the oracle computes,
    hash-proving that every key lands in exactly one cogroup with both
    sides complete (keys present on only one side get the other side
    EMPTY, not dropped). At 100 TB both inputs shuffle once on the key —
    the same exchange a join would make; only the per-key logic differs."""
    events = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 1500)
        .select(F.col("user_id").alias("k"))
    )
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))

    def reconcile(key, ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"k": [key[0]], "n_events": [len(ev)], "n_orders": [len(od)]}
        )

    return (
        events.groupBy("k")
        .cogroup(orders.groupBy("k"))
        .applyInPandas(reconcile, schema="k long, n_events long, n_orders long")
    )
