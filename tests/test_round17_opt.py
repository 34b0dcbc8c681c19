"""Round-17 optimization tests: robustness + equivalence pins for the
operators this round touches (ADVICE r16 fixes, streaming-tier
pooling)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    from ecommerce_data_pipeline_spark.session import get_spark

    s = get_spark("test-round17-opt")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_mmr_kernel_null_embedding_does_not_crash(spark):
    """ADVICE r16 (medium): a NULL embedding yields rel=NULL from
    cosine_topk; the grouped kernel previously raised TypeError comparing
    None with float. Dirty (None/NaN) relevance candidates are now
    defined OUT of the selection: the query completes and emits only
    clean candidates."""
    from ecommerce_data_pipeline_spark.operators.similarity import mmr_rerank

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, None),  # NULL embedding -> rel NULL downstream
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    rows = mmr_rerank(vecs, queries, k_candidates=3, k_select=3).collect()
    # Completes (the old kernel crashed in the Python worker), emits only
    # the two clean candidates, with clean relevance values.
    picked = sorted(r["neighbor_id"] for r in rows)
    assert picked == [1, 2]
    assert all(r["relevance"] is not None for r in rows)
    ranks = sorted(r["sel_rank"] for r in rows)
    assert ranks == [1, 2]


def test_mmr_kernel_all_null_candidates_emit_nothing(spark):
    """A query whose every candidate has NULL relevance emits no rows at
    all (no None arithmetic, no None emission)."""
    from ecommerce_data_pipeline_spark.operators.similarity import mmr_rerank

    vecs = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    rows = mmr_rerank(vecs, queries, k_candidates=2, k_select=2).collect()
    assert rows == []

def test_merge_capture_changes_probe_reads_change_set(spark, tmp_path):
    """r17: with capture_changes=True the insert-only probe is answered
    from the already-checkpointed change set instead of a second full
    target-key semi-join. Pins both decisions: an all-new batch still
    takes the append fast path (file count grows, no rewrite of the
    bootstrap file), a mixed batch still takes the rewrite path, and the
    change-set tags match the key overlap exactly."""
    import os

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    t = ParquetTable(str(tmp_path / "t"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t.merge(spark, base, keys=["id"])
    files_before = set(os.listdir(t.path))

    # All-new keys: append path (bootstrap files untouched), all 'insert'.
    ch = t.merge(
        spark,
        spark.createDataFrame([(3, "c"), (4, "d")], "id long, v string"),
        keys=["id"],
        capture_changes=True,
    )
    tags = {r["id"]: r["_change_type"] for r in ch.collect()}
    assert tags == {3: "insert", 4: "insert"}
    assert files_before <= set(os.listdir(t.path))  # append, no rewrite
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {
        1: "a", 2: "b", 3: "c", 4: "d"
    }

    # Mixed batch: rewrite path, postimage tag on the matched key.
    ch2 = t.merge(
        spark,
        spark.createDataFrame([(4, "D"), (5, "e")], "id long, v string"),
        keys=["id"],
        capture_changes=True,
    )
    tags2 = {r["id"]: r["_change_type"] for r in ch2.collect()}
    assert tags2 == {4: "update_postimage", 5: "insert"}
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {
        1: "a", 2: "b", 3: "c", 4: "D", 5: "e"
    }
