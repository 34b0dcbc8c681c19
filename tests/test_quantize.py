"""K-means IVF quantizer and product quantization: determinism,
assignment sanity, multi-probe / IVF-PQ / rerank equivalences against the
exact baselines, and the shared ranker's plan shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators.quantize import (
    assign_cells,
    ivf_pq_topk,
    kmeans_fit,
    multiprobe_topk,
)
from ecommerce_data_pipeline_spark.operators.similarity import cosine_topk
from ecommerce_data_pipeline_spark.sources.parquet import load_table
from tests.conftest import SF_DIR


def test_kmeans_deterministic_and_covers_cells(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = kmeans_fit(emb, k=8, iters=3)
    c2 = kmeans_fit(emb, k=8, iters=3)
    assert c1 == c2  # bit-identical across runs (deterministic init + plan)
    cells = assign_cells(emb, c1)
    counts = {r["cell"]: r["n"] for r in cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(counts) >= 4  # clustering actually spreads the corpus
    assert sum(counts.values()) == emb.count()


def test_multiprobe_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    centroids = kmeans_fit(emb, k=8, iters=3)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx_full = {
        (r["query_id"], r["neighbor_id"])
        for r in multiprobe_topk(emb, queries, centroids, k=5, nprobe=8).collect()
    }
    # nprobe == k_cells probes everything → must equal the exact answer.
    assert approx_full == exact
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in multiprobe_topk(emb, queries, centroids, k=5, nprobe=3).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"multi-probe recall {recall} too low"


def test_ann_recall_report_bounds(spark):
    from ecommerce_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["ann_recall_report"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    vals = [r["recall_at_5"] for r in rows]
    assert all(0.0 <= v <= 1.0 for v in vals)
    # nprobe=3 of 8 cells on clustered synthetic data: recall well above
    # the 3/8 random-pruning floor.
    assert sum(vals) / len(vals) >= 0.5


def test_semantic_dedup_drops_higher_id_of_near_pair(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import semantic_dedup

    # Two identical vectors (cos=1) plus one orthogonal: the higher id of
    # the identical pair is dropped, everything else kept.
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(emb, k=2, iters=2, threshold=0.95).collect()}
    assert out[1] is True and out[9] is True
    assert out[2] is False


def test_pq_exact_when_codebook_saturates(spark):
    # k >= n distinct vectors => every vector is its own centroid in every
    # subspace => ADC distance == exact distance => recall@k must be 1.
    import pyspark.sql.functions as F

    from ecommerce_data_pipeline_spark.operators.quantize import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 0.0, float(-i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    books = pq_fit(vecs, m=2, k=8, iters=2)
    assert len(books) == 2 and all(len(cb[0]) == 2 for cb in books)
    codes = pq_encode(vecs, books)
    rows = {r["vec_id"]: list(r["pq_codes"]) for r in codes.collect()}
    assert len({tuple(v) for v in rows.values()}) == 6  # all distinct codes
    top = pq_adc_topk(vecs, vecs.filter(F.col("vec_id") == 0), books, k=2)
    got = [r["neighbor_id"] for r in top.orderBy("rank").collect()]
    assert got == [1, 2]  # exact L2 order from v0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_fit(vecs, m=3)  # dim 4 not divisible


# ---------------------------------------------------------------------------
# ivf_pq_topk: with nprobe = n_cells the routing prunes nothing, so the
# result must equal plain (unrouted) PQ asymmetric-distance top-k
# ---------------------------------------------------------------------------

def test_ivf_pq_topk_nprobe_all_equals_plain_adc(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import (
        pq_adc_topk,
        pq_fit,
    )

    rng = np.random.default_rng(42)
    vecs = rng.integers(0, 9, size=(40, 8)).astype(float)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    q = df.filter("vec_id % 10 = 0")
    routed = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_d2"])
        for r in ivf_pq_topk(
            df, q, k=3, n_cells=4, nprobe=4, m=2, pq_k=4
        ).collect()
    }
    books = pq_fit(df, m=2, k=4, iters=2)
    plain = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_d2"])
        for r in pq_adc_topk(df, q, books, k=3).collect()
    }
    assert routed == plain
    assert len(routed) == 4 * 3


# ---------------------------------------------------------------------------
# ivf_pq_rerank_topk: with the shortlist covering the whole corpus and
# nprobe = n_cells (nothing pruned, nothing lost to PQ shortlisting), the
# exact rerank must equal brute-force cosine_topk.
# ---------------------------------------------------------------------------

def _toy_embeddings(spark, n=30, dim=8):
    import numpy as np

    rng = np.random.RandomState(9)
    rows = [
        (int(i), [float(x) for x in rng.randn(dim)], int(i % 3))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_ivf_pq_rerank_full_shortlist_equals_exact(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import (
        ivf_pq_rerank_topk,
    )

    emb = _toy_embeddings(spark, n=30, dim=8)
    queries = emb.filter("vec_id % 10 = 0")
    got = ivf_pq_rerank_topk(
        emb, queries, k=5, shortlist_mult=6, n_cells=4, nprobe=4, m=4
    )
    want = cosine_topk(emb, queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_ivf_pq_rerank_is_shortlist_bounded(spark):
    """With a tight shortlist the rerank emits exactly k rows per query,
    ranked by exact cosine descending with neighbor_id tiebreak."""
    from ecommerce_data_pipeline_spark.operators.quantize import (
        ivf_pq_rerank_topk,
    )

    emb = _toy_embeddings(spark, n=30, dim=8)
    queries = emb.filter("vec_id % 10 = 0")
    out = ivf_pq_rerank_topk(
        emb, queries, k=3, shortlist_mult=2, n_cells=4, nprobe=2, m=4
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [(-r["cosine_sim"], r["neighbor_id"]) for r in rows]
        assert sims == sorted(sims)


def test_pq_fit_sample_cap_selection_and_equivalence(spark):
    """VERDICT r16 ask #2: pq_fit (and semantic_dedup's kmeans pass-through)
    now default to the bounded smallest-md5(id) fit sample. Pins:

    - the capped collect selects exactly the ``fit_sample`` smallest-md5
      ids (the documented deterministic selection, same as kmeans_fit);
    - codebooks from the capped fit equal codebooks from an uncapped fit
      over the pre-filtered sample frame (the cap only bounds the
      collect, never changes arithmetic);
    - while the corpus is under the cap, capped == uncapped bit-for-bit
      (the regime every oracle-certified fixture is pinned to).
    """
    import hashlib
    import inspect

    from ecommerce_data_pipeline_spark.operators.quantize import (
        DEFAULT_FIT_SAMPLE,
        _collect_fit_rows,
        pq_fit,
        semantic_dedup,
    )

    # No full-corpus default anywhere (the VERDICT's "done" criterion).
    assert (
        inspect.signature(pq_fit).parameters["fit_sample"].default
        == DEFAULT_FIT_SAMPLE
    )
    assert (
        inspect.signature(semantic_dedup).parameters["fit_sample"].default
        == DEFAULT_FIT_SAMPLE
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # Selection: exactly the 12 smallest-md5(id) rows.
    got = _collect_fit_rows(vecs, "vec_id", "embedding", 12)
    want_ids = sorted(
        (str(i) for i in range(40)),
        key=lambda s: hashlib.md5(s.encode()).hexdigest(),
    )[:12]
    assert sorted(r["id"] for r in got) == sorted(want_ids)

    # Capped fit == uncapped fit over the pre-filtered sample frame.
    sample_frame = vecs.filter(
        F.col("vec_id").isin([int(s) for s in want_ids])
    )
    capped = pq_fit(vecs, m=2, k=4, iters=2, fit_sample=12)
    manual = pq_fit(sample_frame, m=2, k=4, iters=2, fit_sample=None)
    assert capped == manual

    # Under the cap: capped == uncapped on the whole frame.
    assert pq_fit(vecs, m=2, k=4, iters=2, fit_sample=100) == pq_fit(
        vecs, m=2, k=4, iters=2, fit_sample=None
    )


# ---------------------------------------------------------------------------
# rank_topk's plan shape: WindowGroupLimit keeps each map task's local
# top-k per query before the shuffle on query_id — the reason no operator
# needs its own pre-reduction.
# ---------------------------------------------------------------------------

def test_topk_ranker_limits_before_the_shuffle(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = kmeans_fit(emb, k=8, iters=3)
    for df in (
        cosine_topk(emb, queries, k=5),
        multiprobe_topk(emb, queries, centroids, k=5, nprobe=3),
        ivf_pq_topk(emb, queries, k=5),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = [
            line.strip(" +-:")
            for line in plan.split("== Initial Plan ==")[0].splitlines()
        ]
        at = [
            i
            for i, n in enumerate(nodes)
            if n.startswith("Exchange hashpartitioning(query_id")
        ]
        assert len(at) == 1, plan
        below = nodes[at[0] + 1]
        assert below.startswith("WindowGroupLimit") and below.endswith(
            "Partial"
        ), plan


# ---------------------------------------------------------------------------
# Each per-row value computed once: the centroid literal folds to one
# constant, and the cell join key carries no inferred filter that would
# re-run the k×dim distance expression below the projection.
# ---------------------------------------------------------------------------

def test_centroid_lit_round_trips_bit_exactly(spark):
    import struct

    import pytest

    from ecommerce_data_pipeline_spark.operators.quantize import _centroid_lit

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    vals = [-0.0, 5e-324, 2.2250738585072014e-308, 0.1, 1 / 3, 1.7976931348623157e308]
    got = spark.range(1).select(_centroid_lit([vals, vals[::-1]]).alias("c")).first()["c"]
    assert [bits(r) for r in got] == [bits(vals), bits(vals[::-1])]
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            _centroid_lit([[0.0, bad]])


def test_ann_plans_compute_the_cell_once(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import pq_encode, pq_fit
    from ecommerce_data_pipeline_spark.queries import QUERIES

    for name in ("ivf_pq_topk", "kmeans_ivf_topk"):
        plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        assert "from_json" not in plan, name
        filters = [
            line for line in plan.splitlines()
            if "Filter" in line and "array_position" in line
        ]
        assert not filters, (name, filters)
    # The embedding is cast once, not inside every distance lambda.
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = pq_encode(emb, pq_fit(emb))._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("cast(embedding#") == 1, plan


def test_null_vector_row_changes_no_ann_result(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    null_row = spark.createDataFrame([(10**9, None, 0)], emb.schema)
    with_null = emb.unionByName(null_row)
    # A null query vector is dropped, not routed to cells with null scores.
    queries_with_null = queries.unionByName(null_row)
    centroids = kmeans_fit(emb, k=8, iters=3)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(ivf_pq_topk(with_null, queries_with_null)) == rows(
        ivf_pq_topk(emb, queries)
    )
    assert rows(
        multiprobe_topk(with_null, queries_with_null, centroids, nprobe=3)
    ) == rows(multiprobe_topk(emb, queries, centroids, nprobe=3))
