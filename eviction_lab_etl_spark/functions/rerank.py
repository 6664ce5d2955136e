"""Maximal Marginal Relevance reranking as a parametric library function.

MMR (Carbonell & Goldstein '98, public algorithm): from a scored candidate
frame, greedily pick ``k`` items where each pick maximizes
``rel(d) − max_{s∈S} sim(d, s)`` — relevance minus redundancy against what is
already selected (the λ = 1/2 objective up to a monotone factor). Round-7
shipped this unrolled inline in `search_mmr_diverse` at k = 5; any user
wanting a different k had to copy-paste the greedy — this module is the
generalization (round-7 verdict item 6), with the lineage discipline the
unrolled plan needs already packaged:

- Each greedy step references the selection subtree again, so WITHOUT lineage
  cuts the plan grows ~2^k Catalyst analysis work for KB of data (measured
  4.8 s → ~1.4–2.1 s saved at k = 5, SURVEY §8 r7t). Every step runs through
  ``pins.truncate`` — reliable checkpoint when a dir is configured,
  executor-local blocks otherwise.
- The candidate frame is expected to be SMALL (a top-k retrieval page, tens
  of rows): every join in the greedy broadcasts; nothing here should ever see
  corpus-sized data. The corpus-sized work belongs upstream, in the single
  scored pass that built ``cand`` (ending in TakeOrderedAndProject — see
  `search_mmr_diverse`).

Determinism is the caller's contract, same as the registered query: scores
may be float (compared, never emitted — emit ranks/ids downstream); ties must
be broken by ``id_col`` ascending, which the greedy does on every pick.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eviction_lab_etl_spark.functions.pins import truncate


def mmr_rerank(
    cand: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    sim: Callable[[Column, Column], Column] | None = None,
    truncate_input: bool = True,
) -> DataFrame:
    """Greedy MMR top-``k`` over ``cand``: returns (``id_col``, ``rnk``)
    with rnk = 1..k in pick order. Join back to ``cand`` on ``id_col`` for
    any other columns (tiny broadcast). If ``cand`` has fewer than ``k``
    rows the result simply stops early (one row per available candidate).

    ``sim`` defaults to the repo's sequential-fold cosine (dedup_text.cosine
    — bit-identical across engines per §2.0 rule 6). ``truncate_input=False``
    skips the defensive lineage cut when the caller already truncated
    ``cand`` (avoids a redundant materialization)."""
    from eviction_lab_etl_spark.operators.dedup_text import cosine

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = {"_svec", "_pen", "rnk"}
    clash = reserved & set(cand.columns)
    if clash:
        raise ValueError(
            f"mmr_rerank: input columns {sorted(clash)} collide with the "
            "greedy's working columns — rename them before calling"
        )
    score = sim if sim is not None else cosine
    if truncate_input:
        cand = truncate(cand)
    sel = (
        cand.orderBy(F.desc(rel_col), id_col)
        .limit(1)
        .select(F.col(id_col), F.lit(1).cast("bigint").alias("rnk"))
    )
    for step in range(2, k + 1):
        sel_vecs = cand.join(sel.select(id_col), id_col).select(
            F.col(vec_col).alias("_svec")
        )
        pick = (
            cand.join(sel.select(id_col), id_col, "left_anti")
            .crossJoin(F.broadcast(sel_vecs))
            .groupBy(id_col, rel_col)
            .agg(F.max(score(F.col(vec_col), F.col("_svec"))).alias("_pen"))
            .orderBy(F.desc(F.col(rel_col) - F.col("_pen")), id_col)
            .limit(1)
            .select(F.col(id_col), F.lit(step).cast("bigint").alias("rnk"))
        )
        sel = truncate(sel.unionByName(pick))
    return sel
