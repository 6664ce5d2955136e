"""Connected-components operator: toy-graph ground truth, O(log n)
convergence on adversarial chains, durable checkpointing, and the
non-convergence guard."""

from __future__ import annotations

import os
import random

import pytest

from eviction_lab_etl_spark.operators.clustering import (
    _cc_rounds,
    connected_components,
)


def test_cc_two_components_and_chain(spark):
    # Component 1 is a 4-vertex chain (worst diameter per vertex count);
    # component 2 is a triangle; vertex ids deliberately out of order so the
    # min label is not the first-seen one.
    edges = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 1), (20, 30), (30, 10), (10, 20)],
        "a long, b long",
    )
    got = {(r.v, r.lbl) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (3, 1), (7, 1), (9, 1),
        (10, 10), (20, 10), (30, 10),
    }


def test_cc_singleton_edge(spark):
    edges = spark.createDataFrame([(5, 2)], "a long, b long")
    got = {(r.v, r.lbl) for r in connected_components(edges).collect()}
    assert got == {(2, 2), (5, 2)}


def test_cc_chain_converges_logarithmically(spark):
    # A planted 100-vertex path is the adversarial case for min-label
    # propagation (O(diameter) = 99 rounds). Large-star/small-star contraction
    # must close it within the O(log n) bound — empirically 7 rounds; the
    # assert leaves headroom without admitting linear behavior.
    rnd = random.Random(7)
    ids = list(range(1000, 1100))
    rnd.shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(99)]
    edges = spark.createDataFrame(chain, "a long, b long")
    labels, rounds = _cc_rounds(edges, 25)
    rows = labels.collect()
    assert len(rows) == 100
    assert {r.lbl for r in rows} == {1000}
    assert rounds <= 10, f"chain took {rounds} rounds — contraction regressed"


def test_cc_raises_instead_of_returning_partial_labels(spark):
    # Exhausting max_iter must be an error, not silently-wrong labels.
    chain = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(chain, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_cc_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    # With a checkpoint dir set, iterations must truncate lineage through
    # reliable checkpoint() files (survives executor loss on a cluster), not
    # executor-local blocks. The dir is the session's (setCheckpointDir):
    # connected_components only follows it.
    ckpt = tmp_path / "ckpt"
    edges = spark.createDataFrame(
        [(7, 3), (3, 9), (9, 1), (20, 30), (30, 10), (10, 20)],
        "a long, b long",
    )
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        got = {(r.v, r.lbl) for r in connected_components(edges).collect()}
        assert got == {
            (1, 1), (3, 1), (7, 1), (9, 1),
            (10, 10), (20, 10), (30, 10),
        }
        written = [
            os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs
        ]
        assert written, "no reliable checkpoint files written"
    finally:
        # Unset so later tests keep the local-mode fallback path.
        sc = spark.sparkContext
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
