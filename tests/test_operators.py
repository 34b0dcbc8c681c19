"""Operator goldens on literal DataFrames (SURVEY.md §5 test plan).

Each test pins one operator's contract — the W1 dedup edges, the payment
residue semantics (unpaid/partial/split/overpaid), null-tolerant parsing,
cents-exact money sums — independent of the fixture generator.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions import money_sum
from ecommerce_data_pipeline_spark.operators import text as tx
from ecommerce_data_pipeline_spark.operators import windows as win
from ecommerce_data_pipeline_spark.operators.dedup import (
    char_shingles,
    exact_dedup,
    kafka_identity_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    word_span_shingles,
)
from ecommerce_data_pipeline_spark.operators.enrich import enrich_orders
from ecommerce_data_pipeline_spark.operators.fact import sales_minute_agg
from ecommerce_data_pipeline_spark.operators.parse import (
    bronze_projection,
    parse_orders,
    parse_payments,
)
from ecommerce_data_pipeline_spark.operators.similarity import cosine_topk
from tests.conftest import SF_DIR, ts


def _order_value(order_id, total, event_time="2024-01-01T10:00:00Z"):
    return json.dumps(
        {
            "event_type": "order.created",
            "order_id": order_id,
            "user_id": f"u{order_id}@example.com",
            "currency": "USD",
            "total_amount": total,
            "status": "CREATED",
            "event_time": event_time,
            "event_id": f"evt-{order_id}",
        }
    )


def _payment_value(order_id, cents):
    return json.dumps(
        {
            "type": "payment.succeeded",
            "order_id": int(order_id),
            "amount_cents": cents,
            "currency": "USD",
            "user_email": f"u{order_id}@example.com",
        }
    )


# ---------------------------------------------------------------------------
# W1 dedup
# ---------------------------------------------------------------------------


def test_kafka_identity_dedup_keeps_newest(kafka_rows):
    df = kafka_rows(
        [
            ("1", "old", "t", 0, 0, ts("2024-01-01 10:00:00"), 0),
            ("1", "new", "t", 0, 0, ts("2024-01-01 10:00:05"), 0),
            ("2", "only", "t", 0, 1, ts("2024-01-01 10:00:01"), 0),
            ("2", "other-partition", "t", 1, 1, ts("2024-01-01 10:00:01"), 0),
        ]
    )
    out = kafka_identity_dedup(df).orderBy("partition", "offset").collect()
    assert [r["raw_value"] for r in out] == ["new", "only", "other-partition"]


def test_kafka_identity_dedup_exact_duplicate_rows(kafka_rows):
    # Broker redelivery: identical rows → exactly one survives.
    row = ("1", "v", "t", 0, 0, ts("2024-01-01 10:00:00"), 0)
    assert kafka_identity_dedup(kafka_rows([row, row])).count() == 1


# ---------------------------------------------------------------------------
# P1-P3 parse
# ---------------------------------------------------------------------------


def test_parse_orders_happy_path(kafka_rows):
    raw = kafka_rows(
        [("7", _order_value("7", 12.5), "orders.events", 0, 0, ts("2024-01-01 10:00:01"), 0)]
    )
    row = parse_orders(bronze_projection(raw)).first()
    assert row["order_id"] == "7"
    assert row["total_amount"] == 12.5
    assert row["event_ts"] == ts("2024-01-01 10:00:00")
    assert str(row["event_date"]) == "2024-01-01"


def test_parse_orders_null_tolerant(kafka_rows):
    raw = kafka_rows(
        [
            ("x", "NOT JSON{{", "orders.events", 0, 0, ts("2024-01-01 10:00:00"), 0),
            ("y", json.dumps({"order_id": "9"}), "orders.events", 0, 1, ts("2024-01-01 10:00:00"), 0),
        ]
    )
    out = parse_orders(bronze_projection(raw)).orderBy("offset").collect()
    # Bad JSON: row retained, all parsed fields null (silver_orders.py contract).
    assert out[0]["order_id"] is None and out[0]["event_ts"] is None
    # Missing fields: present ones parsed, absent ones null.
    assert out[1]["order_id"] == "9" and out[1]["total_amount"] is None


def test_parse_payments_cents_and_ids(kafka_rows):
    raw = kafka_rows(
        [("7", _payment_value("7", 1255), "payments.events", 3, 42, ts("2024-01-02 00:00:00"), 0)]
    )
    row = parse_payments(bronze_projection(raw)).first()
    assert row["amount"] == 12.55
    assert row["status"] == "succeeded"
    # event_ts is the Kafka timestamp (silver_payments.py:56 quirk).
    assert row["event_ts"] == ts("2024-01-02 00:00:00")
    # sha256 lineage ids are deterministic functions of the Kafka identity.
    assert row["event_id"] != row["payment_id"]
    assert len(row["event_id"]) == 64


# ---------------------------------------------------------------------------
# A1/J1 enrichment — the payment residues
# ---------------------------------------------------------------------------


def test_enrich_orders_payment_residues(kafka_rows):
    orders = parse_orders(
        bronze_projection(
            kafka_rows(
                [
                    ("1", _order_value("1", 100.0), "orders.events", 0, 0, ts("2024-01-01 10:00:01"), 0),
                    ("2", _order_value("2", 100.0), "orders.events", 0, 1, ts("2024-01-01 10:00:01"), 0),
                    ("3", _order_value("3", 100.0), "orders.events", 0, 2, ts("2024-01-01 10:00:01"), 0),
                    ("4", _order_value("4", 100.0), "orders.events", 0, 3, ts("2024-01-01 10:00:01"), 0),
                ]
            )
        )
    )
    payments = parse_payments(
        bronze_projection(
            kafka_rows(
                [
                    # order 2: split 60/40 — reconstructs exactly
                    ("2", _payment_value("2", 6000), "payments.events", 0, 0, ts("2024-01-01 10:05:00"), 0),
                    ("2", _payment_value("2", 4000), "payments.events", 0, 1, ts("2024-01-01 10:06:00"), 0),
                    # order 3: partial
                    ("3", _payment_value("3", 5000), "payments.events", 0, 2, ts("2024-01-01 10:05:00"), 0),
                    # order 4: overpaid
                    ("4", _payment_value("4", 11000), "payments.events", 0, 3, ts("2024-01-01 10:05:00"), 0),
                    # orphan: no matching order → must drop out
                    ("99", _payment_value("99", 123), "payments.events", 0, 4, ts("2024-01-01 10:05:00"), 0),
                ]
            )
        )
    )
    out = {r["order_id"]: r for r in enrich_orders(orders, payments).collect()}
    assert set(out) == {"1", "2", "3", "4"}
    assert out["1"]["paid_amount"] == 0.0 and not out["1"]["fully_paid"]
    assert out["2"]["paid_amount"] == 100.0 and out["2"]["fully_paid"]
    assert out["3"]["paid_amount"] == 50.0 and not out["3"]["fully_paid"]
    assert out["4"]["paid_amount"] == 110.0 and out["4"]["fully_paid"]
    # updated_ts = greatest(order_ts, last_payment_ts); unpaid falls back to order_ts.
    assert out["2"]["updated_ts"] == ts("2024-01-01 10:06:00")
    assert out["1"]["updated_ts"] == out["1"]["order_ts"]


def test_money_sum_is_order_insensitive(spark):
    # 0.1+0.2-style doubles: naive sum gives 0.30000000000000004-ish drift;
    # cents-exact sum is bit-stable.
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "v double")
    assert df.agg(money_sum("v").alias("s")).first()["s"] == 0.6


# ---------------------------------------------------------------------------
# A2 minute fact
# ---------------------------------------------------------------------------


def test_sales_minute_agg_buckets_and_filters(spark):
    orders = spark.createDataFrame(
        [
            ("1", ts("2024-01-01 10:00:10"), 10.0),
            ("2", ts("2024-01-01 10:00:50"), 20.0),
            ("3", ts("2024-01-01 10:01:10"), 40.0),
            ("4", None, 80.0),  # P4: null event_ts excluded
            ("5", ts("2024-01-01 10:00:30"), 160.0),  # not fully paid → excluded
        ],
        "order_id string, event_ts timestamp, total_amount double",
    )
    enriched = spark.createDataFrame(
        [("1", True), ("2", True), ("3", True), ("4", True), ("5", False)],
        "order_id string, fully_paid boolean",
    )
    out = {
        str(r["minute_bucket"]): r
        for r in sales_minute_agg(orders, enriched).collect()
    }
    assert len(out) == 2
    assert out["2024-01-01 10:00:00"]["gmv"] == 30.0
    assert out["2024-01-01 10:00:00"]["paid_orders"] == 2
    assert out["2024-01-01 10:01:00"]["gmv"] == 40.0


# ---------------------------------------------------------------------------
# Windows: state view, sessionization, paging
# ---------------------------------------------------------------------------


def test_current_state_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, "a", ts("2024-01-01 10:00:00"), "CREATED"),
            (1, "b", ts("2024-01-01 10:00:00"), "PAID"),  # same ts → id desc wins
            (2, "c", ts("2024-01-01 09:00:00"), "CREATED"),
        ],
        "user_id long, event_id string, ts timestamp, event_type string",
    )
    out = {r["user_id"]: r["event_type"] for r in win.current_state(df, "user_id", "ts", "event_id").collect()}
    assert out == {1: "PAID", 2: "CREATED"}


def test_sessionize_gap_splits(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 1.0),
            (1, ts("2024-01-01 10:10:00"), 2.0),
            (1, ts("2024-01-01 11:00:00"), 4.0),  # 50-min gap → new session
            (2, ts("2024-01-01 10:00:00"), 8.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = win.sessionize(df).orderBy("user_id", "session_id").collect()
    assert [(r["user_id"], r["session_id"], r["n_events"], r["total_value"]) for r in out] == [
        (1, 1, 2, 3.0),
        (1, 2, 1, 4.0),
        (2, 1, 1, 8.0),
    ]


def test_paged_offset_limit(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    out = [r["k"] for r in win.paged(df, ["k"], offset=20, limit=5).collect()]
    assert out == [20, 21, 22, 23, 24]


# ---------------------------------------------------------------------------
# Dedup family on literal documents
# ---------------------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog again and again!"),  # near dup
    (4, "completely different content about spark query engines at scale"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(_docs(spark)).collect()}
    # min doc_id per content group survives
    assert out == {1: 2, 3: 1, 4: 1}


def test_ngram_and_minhash_agree(spark):
    # candidates="prefix" is the guaranteed-recall exact form; the default
    # candidates="lsh" is the scale path. Equality here IS the LSH
    # recall-1.0 assertion on the fixture corpus.
    docs = _docs(spark)
    exact_pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, candidates="prefix").collect()
    }
    lsh_pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert exact_pairs == lsh_pairs
    assert exact_pairs[(1, 2)] == 1.0
    assert exact_pairs[(1, 3)] > 0.9


def test_lsh_recall_on_corpus(spark):
    # Corpus-level recall assertion at the registry's own parameters
    # (k=10, t=0.6): LSH candidates + exact verify must reproduce the
    # exact prefix-filtered pair set on the driver testdata corpus.
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    kw = dict(threshold=0.6, k=10)
    exact = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, candidates="prefix", **kw).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, **kw).collect()
    }
    assert exact == lsh
    assert len(exact) > 0


def test_simhash_identical_docs_and_pairs(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in simhash_pairs(_docs(spark)).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start != -1:
        i = start + len("lambdafunction")
        depth = 0
        for j in range(i, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                bodies.append(plan[i : j + 1])
                break
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_shingle_lambdas_do_not_recompute_the_text(spark):
    # Spark evaluates whatever a lambda captures once per array element:
    # lower(text) inside the per-position lambda costs O(len^2) per doc.
    docs = spark.createDataFrame([(1, "Hello World foo bar")], "doc_id long, text string")
    for shingles in (char_shingles(F.col("text"), 4), word_span_shingles(F.col("text"), 2)):
        plan = docs.select(shingles)._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, plan
        assert not [b for b in bodies if "lower(" in b or "split(" in b], plan


def test_shingles_match_python_reference(spark):
    texts = ["", "Short", "exactly10!", "A 😀 Grinning 𐐀 Mixed 😀 Text", "  Two  spaces  "]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    k, w = 10, 2
    rows = docs.select(
        "text",
        char_shingles(F.col("text"), k).alias("c"),
        word_span_shingles(F.col("text"), w).alias("s"),
    ).collect()
    for r in rows:
        t = r["text"].lower()
        chars = [t[i : i + k] for i in range(max(len(t) - k + 1, 1))]
        words = [x for x in t.split(" ") if x]
        spans = [" ".join(words[i : i + w]) for i in range(max(len(words) - w + 1, 1))]
        assert r["c"] == list(dict.fromkeys(chars)), r["text"]
        assert r["s"] == list(dict.fromkeys(spans)), r["text"]


def test_lsh_band_kernel_runs_once(spark):
    # Unpinned, the broadcast self-join put two ArrowEvalPython nodes in
    # the executed plan: the numpy band kernel ran twice over every doc.
    from ecommerce_data_pipeline_spark.queries import QUERIES

    df = QUERIES["ngram_jaccard_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") <= 1, plan


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------


def test_cosine_topk_exact_neighbors(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = vecs.filter(F.col("vec_id") == 1)
    out = cosine_topk(vecs, q, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert out[0]["cosine_sim"] > 0.99


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def test_language_id_english(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is that for sure"),
         (2, "zzz qqq xxx 12345")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in tx.language_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_token_stats_counts(spark):
    docs = spark.createDataFrame([(1, "Hello world, 42 times hello")], "doc_id long, text string")
    row = tx.token_stats(docs).first()
    assert row["ws_tokens"] == 5
    assert row["distinct_tokens"] == 5  # 'Hello' != 'hello' (case-sensitive ws tokens)
    # lower: 'hello','world',',','42','times','hello' → 6
    assert row["bpe_ish_tokens"] == 6


def test_quality_score_features(spark):
    good = "the quick brown fox jumps over the lazy dog and then it runs away for a while"
    docs = spark.createDataFrame([(1, good), (2, "@@@@ ####")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.quality_score(docs).collect()}
    assert out[1]["quality_score"] == 1.0
    assert out[2]["quality_score"] <= 0.25
    # n_tokens counts alpha tokens ("@@@@ ####" strips to nothing).
    assert out[2]["n_tokens"] == 0


def test_blocked_cosine_pairs_equals_expression_form(spark):
    from ecommerce_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_blocked,
    )
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    v = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr_pairs = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine_sim"])
        for r in embedding_near_dup_pairs(v, threshold=0.4).collect()
    }
    blas_pairs = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine_sim"])
        for r in embedding_near_dup_pairs_blocked(v, threshold=0.4, n_blocks=4).collect()
    }
    assert expr_pairs == blas_pairs
    assert len(blas_pairs) > 0


def test_tfidf_rare_term_outranks_common(spark):
    from ecommerce_data_pipeline_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare"),
            (2, "common alpha"),
            (3, "common beta"),
        ],
        "doc_id long, text string",
    )
    top = tfidf_top_terms(docs, top_k=1).collect()
    # Equal tf=1 everywhere: the doc-unique term (df=1, idf=ln(4/2)+1≈1.69)
    # must outrank 'common' (df=3, idf=ln(4/4)+1=1.0) in every doc.
    assert {r["doc_id"]: r["token"] for r in top} == {
        1: "rare", 2: "alpha", 3: "beta",
    }
    assert all(r["tfidf"] > 0 for r in top)


def test_bm25_prefers_matching_docs(spark):
    from ecommerce_data_pipeline_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark join stream spark"),
            (2, "spark only here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    out = bm25_search(docs, ["spark", "join", "stream"], top_n=10).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[0] == 1  # hits all three terms
    assert 3 not in ids  # zero hits -> absent, not zero-scored
    assert next(r for r in out if r["doc_id"] == 1)["n_hit_terms"] == 3


def test_embed_media_deterministic_fixed_width(spark):
    from ecommerce_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        embed_media,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["embedding"] for r in embed_media(attach_binary_payload(docs)).collect()}
    assert all(len(v) == 16 for v in out.values())
    assert out[1] == out[2]          # same payload -> same vector
    assert out[1] != out[3]          # different payload -> different vector
    assert all(0.0 <= x < 1.0 for v in out.values() for x in v)


def test_reconcile_orders_payments_cogroup(spark):
    from ecommerce_data_pipeline_spark.operators.service import (
        reconcile_orders_payments,
    )

    orders = spark.createDataFrame(
        [("1", 100.0), ("2", 100.0), ("3", 100.0), ("4", 100.0)],
        "order_id string, total_amount double",
    )
    payments = spark.createDataFrame(
        [("2", 60.0), ("2", 40.0), ("3", 30.0), ("4", 110.0), ("9", 5.0)],
        "order_id string, amount double",
    )
    out = {r["order_id"]: r for r in reconcile_orders_payments(orders, payments).collect()}
    assert out["1"]["status"] == "unpaid" and out["1"]["delta"] == -100.0
    assert out["2"]["status"] == "exact" and out["2"]["n_legs"] == 2
    assert out["3"]["status"] == "partial" and out["3"]["delta"] == -70.0
    assert out["4"]["status"] == "overpaid" and out["4"]["delta"] == 10.0
    assert out["9"]["status"] == "orphan_payment"


def test_reconciliation_cogroup_equals_builtin_query(spark):
    from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
    from ecommerce_data_pipeline_spark.operators.parse import (
        bronze_projection,
        parse_orders,
        parse_payments,
    )
    from ecommerce_data_pipeline_spark.operators.service import (
        reconcile_orders_payments,
    )
    from ecommerce_data_pipeline_spark.queries import QUERIES
    from ecommerce_data_pipeline_spark.sources.events import (
        orders_events,
        payments_events,
    )

    sf = "/root/testdata/sf0.001"
    o = parse_orders(kafka_identity_dedup(bronze_projection(orders_events(spark, sf))))
    p = parse_payments(kafka_identity_dedup(bronze_projection(payments_events(spark, sf))))
    cg = {tuple(r) for r in reconcile_orders_payments(o, p).collect()}
    sql = {tuple(r) for r in QUERIES["payment_reconciliation"](spark, sf).collect()}
    assert cg == sql and len(cg) > 0


def test_pack_sequences_straddles_boundaries(spark):
    """Docs lie end-to-end per shard; a doc crossing a 10-token boundary
    reports both sequences; zero-token docs are dropped."""
    from ecommerce_data_pipeline_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),        # 6 tokens: seq0 [0,6)
            (32, "g h i j k l"),       # 6 tokens: offsets 6..11 -> seq0+seq1
            (64, ""),                  # 0 tokens: dropped
            (96, "m n o p"),           # 4 tokens: offsets 12..15 -> seq1
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["start_seq"], r["start_offset"], r["end_seq"])
        for r in pack_sequences(docs, budget=10, n_shards=32).collect()
    }
    assert out == {0: (0, 0, 0), 32: (0, 6, 1), 96: (1, 2, 1)}


def test_chunk_documents_overlap_and_tail(spark):
    from ecommerce_data_pipeline_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=4, overlap=2).orderBy(
        "doc_id", "chunk_id"
    ).collect()
    got = [
        (r["doc_id"], r["chunk_id"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
        for r in rows
    ]
    # stride 2: starts 0,2,4,6; each chunk re-reads 2 overlap tokens.
    assert got == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 2, 4, "t2 t3 t4 t5"),
        (1, 2, 4, 3, "t4 t5 t6"),
        (1, 3, 6, 1, "t6"),
    ]


def test_incremental_dedup_tiers(spark):
    """Exact beats near; best-jaccard-then-smallest-id tiebreak; unmatched
    docs become their own canonical."""
    from ecommerce_data_pipeline_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    existing = spark.createDataFrame(
        [
            (10, base),                       # exact twin of doc 100
            (11, base),                       # same content, larger id
            (12, base + " with a small extra tail appended"),  # near of 101
            (13, "completely unrelated content about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, base),                      # exact dup -> canonical 10
            (101, base + " with a small extra tail appended xx"),  # near 12
            (102, "zzz qqq vvv totally novel text never seen anywhere"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["canonical_id"], r["match_kind"], r["jaccard"])
        for r in incremental_dedup(existing, new).collect()
    }
    assert out[100] == (10, "exact", 1.0)  # min existing id wins
    assert out[101][0] == 12 and out[101][1] == "near" and out[101][2] >= 0.5
    assert out[102] == (102, "new", None)


def test_bigram_logprob_score_tiny(spark):
    from ecommerce_data_pipeline_spark.operators.text import bigram_logprob_score
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_logprob_score(docs).collect()}
    # doc 3 has < 2 tokens -> dropped
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 1
    # corpus: bigrams ab×2 (doc1) + ba×1 + ab×1 (doc2) => c12(ab)=3, c1(a)=3,
    # c12(ba)=1, c1(b)=1; unigrams a=3 b=3 c=1, N=7
    p_ab = 0.75 * 3 / 3 + 0.25 * 3 / 7
    p_ba = 0.75 * 1 / 1 + 0.25 * 3 / 7
    exp1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 4)
    assert abs(out[1]["avg_logprob"] - exp1) < 1e-9
    assert abs(out[2]["avg_logprob"] - round(math.log(p_ab), 4)) < 1e-9


def test_matryoshka_audit_literal(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import matryoshka_audit

    vecs = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 5.0]), (3, [0.0] * 4)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r for r in matryoshka_audit(vecs, dims=(2, 4)).collect()
    }
    assert out[1]["retained_2"] == 1.0 and out[1]["retained_4"] == 1.0
    assert out[2]["retained_2"] == 0.0 and out[2]["retained_4"] == 1.0
    assert out[3]["retained_2"] == 1.0  # zero vector convention


def test_dsir_importance_weights_tiny(spark):
    from ecommerce_data_pipeline_spark.operators.curate import (
        dsir_importance_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta", "en"),
            (2, "gamma delta", "de"),
            (3, "alpha beta", "de"),
            (4, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_importance_weights(
            docs, target=F.col("lang") == "en"
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # empty doc scores 0 with 0 tokens
    assert out[4]["n_tokens"] == 0 and out[4]["log_weight"] == 0.0
    # doc 3 shares all tokens with the target doc 1 -> higher weight than
    # doc 2, whose tokens never appear in the target
    assert out[3]["log_weight"] > out[2]["log_weight"]
    # log_weight is a per-token SUM (length-dependent); normalize to
    # compare: doc 1's tokens carry more target mass per token than doc 3's
    assert (
        out[1]["log_weight"] / out[1]["n_tokens"]
        > out[3]["log_weight"] / out[3]["n_tokens"]
    )
    assert out[1]["n_tokens"] == 3


def test_lsh_agrees_with_mllib_minhash(spark):
    """External cross-check: our shingle->minhash->band plan, Spark MLlib's
    own MinHashLSH (approxSimilarityJoin at jaccard distance 0.5), and the
    exact prefix-filtered join all produce the SAME pair set on the
    testdata corpus — two independent implementations plus ground truth."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from ecommerce_data_pipeline_spark.operators.dedup import char_shingles
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = docs.select("doc_id", char_shingles(F.col("text"), 12).alias("sh"))
    vec = (
        CountVectorizer(inputCol="sh", outputCol="features", binary=True)
        .fit(sh)
        .transform(sh)
    )
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=16, seed=7
    ).fit(vec)
    # 0.5 + eps: approxSimilarityJoin keeps distance STRICTLY below the
    # threshold, while our operators keep jaccard >= 0.5 (distance <= 0.5);
    # the epsilon makes an exactly-0.5 pair land on the same side for both.
    mllib_pairs = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in mh.approxSimilarityJoin(vec, vec, 0.5 + 1e-6, distCol="d")
        .filter("datasetA.doc_id < datasetB.doc_id")
        .collect()
    }
    ours = {
        (r["doc_id_a"], r["doc_id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in ngram_jaccard_pairs(docs, candidates="prefix").collect()
    }
    assert ours == exact == mllib_pairs
    assert len(exact) > 0
