"""Round-9 additions: the oracle tz-discipline guards (the r8
``streaming_trending_topk`` red's bug class), plus tests for the new
operators registered this round.
"""

from __future__ import annotations

import os
import re
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_correctness import dtype_mismatches  # noqa: E402


# ---------------------------------------------------------------------------
# Oracle tz discipline: DuckDB to_timestamp() returns TIMESTAMP WITH TIME
# ZONE while every Spark query here collects naive timestamps, so a bare
# to_timestamp( in any oracle is a driver schema failure waiting to happen
# (CORRECTNESS_r08.json: streaming_trending_topk). Windowed oracles must use
# naive make_timestamp(); a legit epoch-seconds use must be wrapped in
# CAST(... AS TIMESTAMP) and added to the allowlist below with a comment.
# ---------------------------------------------------------------------------

_TO_TIMESTAMP_ALLOWLIST: set[str] = set()


def test_no_bare_to_timestamp_in_any_oracle():
    from ecommerce_data_pipeline_spark.queries import ORACLES

    offenders = []
    for name, sql in ORACLES.items():
        if name in _TO_TIMESTAMP_ALLOWLIST:
            continue
        # Strip CAST(to_timestamp(...) AS TIMESTAMP)-wrapped uses: the CAST
        # back to naive TIMESTAMP is exactly the discipline we require.
        stripped = re.sub(
            r"CAST\s*\(\s*to_timestamp\b.*?AS\s+TIMESTAMP\s*\)",
            "",
            sql,
            flags=re.IGNORECASE | re.DOTALL,
        )
        if re.search(r"\bto_timestamp\s*\(", stripped, re.IGNORECASE):
            offenders.append(name)
    assert not offenders, (
        f"oracles using bare to_timestamp() (returns TIMESTAMPTZ; driver "
        f"schema check fails vs Spark's naive timestamps): {offenders} — "
        f"use make_timestamp(epoch_micros) or CAST(... AS TIMESTAMP)"
    )


def test_verifier_fails_tz_aware_vs_naive():
    naive = pd.DataFrame(
        {"w": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:15:00"])}
    )
    aware = pd.DataFrame({"w": naive["w"].dt.tz_localize("UTC")})
    kind_bad, tz_bad = dtype_mismatches(naive, aware)
    assert tz_bad == ["w"] and not kind_bad
    # symmetric
    assert dtype_mismatches(aware, naive)[1] == ["w"]
    # both naive / both aware: fine
    assert dtype_mismatches(naive, naive.copy()) == ([], [])
    assert dtype_mismatches(aware, aware.copy()) == ([], [])


def test_verifier_fails_int_vs_float():
    a = pd.DataFrame({"n": [1, 2]})
    b = pd.DataFrame({"n": [1.0, 2.0]})
    kind_bad, tz_bad = dtype_mismatches(a, b)
    assert kind_bad == ["n"] and not tz_bad


# ---------------------------------------------------------------------------
# kmeans oracle-parity cap (ADVICE r8): kmeans_fit's default
# fit_sample=100_000 sees the same rows as the oracles' full-corpus Lloyd
# replay ONLY while every oracle-certified embeddings fixture stays under
# the cap. Pin that invariant so a fixture regeneration cannot silently
# break centroid parity for every k-means-backed query.
# ---------------------------------------------------------------------------

def test_embeddings_fixtures_under_kmeans_fit_sample_cap():
    import inspect

    import duckdb

    from ecommerce_data_pipeline_spark.operators.quantize import kmeans_fit

    cap = inspect.signature(kmeans_fit).parameters["fit_sample"].default
    assert cap is not None
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()[0]
        assert n <= cap, (
            f"sf{sf} embeddings has {n} rows > fit_sample default {cap}: "
            f"kmeans_fit's sample would diverge from the oracles' "
            f"full-corpus Lloyd replay — mirror the smallest-md5 sample "
            f"in _kmeans_cells_sql before raising the cap"
        )


def test_corpus_snapshot_diff_classification(spark):
    from ecommerce_data_pipeline_spark.operators.curate import (
        corpus_snapshot_diff,
    )

    schema = "doc_id long, text string, source string"
    old = spark.createDataFrame(
        [
            (1, "a", "web"),     # unchanged
            (2, "b", "web"),     # changed
            (3, "c", "web"),     # removed
            (4, None, "books"),  # NULL text both sides -> unchanged
            (5, "e", "books"),   # NULL'd text -> changed
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, "a", "web"),
            (2, "B", "web"),
            (4, None, "books"),
            (5, None, "books"),
            (6, "f", "web"),     # added
            (7, None, "books"),  # added with NULL text
        ],
        schema,
    )
    got = {
        r["source"]: (
            r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"]
        )
        for r in corpus_snapshot_diff(old, new).collect()
    }
    assert got == {"web": (1, 1, 1, 1), "books": (1, 0, 1, 1)}


# ---------------------------------------------------------------------------
# cdc_chunk_stats vs a pure-Python reference
# ---------------------------------------------------------------------------

def _py_cdc_stats(rows, window=3, modulus=8):
    import hashlib
    import re as _re
    from collections import Counter

    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    doc_chunks = {}
    for doc_id, text in rows:
        ws = [
            w
            for w in _re.sub("[^a-z ]", "", (text or "").lower()).split(" ")
            if w
        ]
        if not ws:
            doc_chunks[doc_id] = []
            continue
        n = len(ws)
        bpos = [
            i
            for i in range(window, n)  # 1-based interior [window, n-1]
            if md5_long(" ".join(ws[i - window:i])) % modulus == 0
        ]
        starts = [1] + [b + 1 for b in bpos]
        ends = bpos + [n]
        doc_chunks[doc_id] = [
            " ".join(ws[s - 1:e]) for s, e in zip(starts, ends)
        ]
    docs_per_chunk = Counter()
    for d, cs in doc_chunks.items():
        for c in set(cs):
            docs_per_chunk[c] += 1
    out = {}
    for d, cs in doc_chunks.items():
        n_chunks = len(cs)
        n_dup = sum(1 for c in cs if docs_per_chunk[c] >= 2)
        ratio = round(n_dup / n_chunks, 4) if n_chunks else 0.0
        out[d] = (n_chunks, n_dup, ratio)
    return out


def test_cdc_chunk_stats_matches_python_reference(spark):
    from ecommerce_data_pipeline_spark.operators.dedup import cdc_chunk_stats

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"intro text {shared} outro one"),
        (2, f"different lead-in {shared} and a different tail"),
        (3, "completely unrelated words with no overlap at all"),
        (4, None),
        (5, "short"),
        (6, f"{shared} {shared}"),  # internal repetition + cross-doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_chunk_ratio"])
        for r in cdc_chunk_stats(df).collect()
    }
    want = _py_cdc_stats(rows)
    # python ref counts a doc's chunk as dup when >=2 DISTINCT docs share
    # it, same as the operator
    assert got == want


def test_cdc_shared_span_chunks_identically(spark):
    """The CDC property: a long shared span produces at least one chunk
    hash common to both docs even with different surroundings."""
    from ecommerce_data_pipeline_spark.operators.dedup import cdc_chunk_stats

    # letters only — the word cleaner strips digits, which would collapse
    # "word0".."word59" into 60 copies of "word" (no boundary diversity)
    import string

    span = " ".join(
        f"word{a}{b}"
        for a in string.ascii_lowercase[:8]
        for b in string.ascii_lowercase[:8]
    )
    rows = [(1, f"alpha beta {span} gamma"), (2, f"x y z {span} q r s t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_dup_chunks"] for r in cdc_chunk_stats(df).collect()}
    assert got[1] >= 1 and got[2] >= 1


# ---------------------------------------------------------------------------
# centroid_drift vs numpy
# ---------------------------------------------------------------------------

def test_centroid_drift_matches_numpy(spark):
    import numpy as np

    from ecommerce_data_pipeline_spark.operators.similarity import (
        centroid_drift,
    )

    rng = np.random.RandomState(17)
    rows = [
        (int(i), [float(x) for x in rng.randn(6)], int(i % 3))
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    old = emb.filter("vec_id % 2 = 0")
    new = emb.filter("vec_id % 2 = 1")
    got = {
        r["label"]: (r["n_old"], r["n_new"], r["centroid_cosine"])
        for r in centroid_drift(old, new).collect()
    }
    arr = {(i % 2, lab): [] for i, _, lab in rows for _ in [0]}
    for i, v, lab in rows:
        arr[(i % 2, lab)].append(v)
    for lab in {l for _, _, l in rows}:
        co = np.mean(np.array(arr[(0, lab)]), axis=0)
        cn = np.mean(np.array(arr[(1, lab)]), axis=0)
        cos = round(
            float(
                co @ cn / (np.sqrt(co @ co) * np.sqrt(cn @ cn))
            ),
            4,
        )
        n_old, n_new, got_cos = got[lab]
        assert (n_old, n_new) == (len(arr[(0, lab)]), len(arr[(1, lab)]))
        assert abs(got_cos - cos) <= 1e-4


def test_centroid_drift_one_sided_label(spark):
    from ecommerce_data_pipeline_spark.operators.similarity import (
        centroid_drift,
    )

    old = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    new = spark.createDataFrame(
        [(2, [0.0, 1.0], 1)], "vec_id long, embedding array<double>, label int"
    )
    got = {r["label"]: r for r in centroid_drift(old, new).collect()}
    assert got[0]["n_new"] == 0 and got[0]["centroid_cosine"] is None
    assert got[1]["n_old"] == 0 and got[1]["centroid_cosine"] is None


# ---------------------------------------------------------------------------
# incremental_view_refresh: the refresh must be key-pruned — the change
# feed names a strict subset of orders, and only those view rows change
# between bootstrap and refresh.
# ---------------------------------------------------------------------------

def test_incremental_view_refresh_is_key_pruned(spark, tmp_path):
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.lake import ParquetTable

    orders = spark.createDataFrame(
        [(i, float(100 + i)) for i in range(1, 30)],
        "order_id long, total_amount double",
    )
    legs = spark.createDataFrame(
        [
            (i, j, float(10 * j))
            for i in range(1, 30)
            for j in (1, 2)
        ],
        "order_id long, leg_no int, amount double",
    )
    late = (F.col("order_id") % 7 == 0) | (
        (F.col("order_id") % 11 == 0) & (F.col("leg_no") == 1)
    )
    legs_t = ParquetTable(f"{tmp_path}/legs")
    legs_t.merge(spark, legs.filter(~late), keys=["order_id", "leg_no"])
    changes = legs_t.merge(
        spark, legs.filter(late), keys=["order_id", "leg_no"],
        capture_changes=True,
    )
    affected = {r["order_id"] for r in changes.select("order_id").distinct().collect()}
    expect = {i for i in range(1, 30) if i % 7 == 0 or i % 11 == 0}
    assert affected == expect
    assert 0 < len(affected) < 29  # strict subset: refresh work is O(changed)
    # feed tags: %7 legs are brand-new (insert); %11 first legs too (that
    # key was held out) — all inserts here since the key includes leg_no
    kinds = {r["_change_type"] for r in changes.collect()}
    assert kinds == {"insert"}


# ---------------------------------------------------------------------------
# kcore: fixed-round peel — convergence proof (more rounds = no-op) and a
# hand-checked golden.
# ---------------------------------------------------------------------------

def test_kcore_golden_and_convergence(spark):
    from ecommerce_data_pipeline_spark.operators.graph import kcore

    # Graph: a 4-clique (1,2,3,4) with a pendant path 5-6 hanging off 4.
    # 3-core = the clique; 5 and 6 peel (degrees 2 and 1).
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        clique + [(4, 5), (5, 6)], "src long, dst long"
    )
    got = {
        r["id"]: r["core_degree"] for r in kcore(edges, k=3, rounds=4).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # monotone: extra rounds past convergence change nothing
    again = {
        r["id"]: r["core_degree"] for r in kcore(edges, k=3, rounds=8).collect()
    }
    assert again == got


def test_kcore_fixture_converged_at_8_rounds(spark):
    """rounds=8 == rounds=10 on the real co-purchase fixture: the oracle's
    fixed unroll depth is past convergence."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.graph import kcore
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    r8 = sorted(map(tuple, kcore(pairs, k=3, rounds=8).collect()))
    r10 = sorted(map(tuple, kcore(pairs, k=3, rounds=10).collect()))
    assert r8 == r10 and len(r8) > 0
