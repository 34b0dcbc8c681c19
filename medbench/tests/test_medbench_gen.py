"""The generator: deterministic per seed, and its events and expected fact
agree with the program's own parse and batch pipeline."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import run

T0 = gen.BASE_END_S


def _stream(seed):
    s = gen.EventStream(seed)
    tables = [
        *s.batch(400, T0 - gen.DAY_S, T0),
        *s.batch(100, T0, T0 + 3600, late_share=0.1, late_max_s=5400,
                 old_redelivery={gen.ORDERS_TOPIC: 0.5}),
    ]
    return s, tables


def test_same_seed_same_inputs():
    (a, ta), (b, tb) = _stream(11), _stream(11)
    assert all(x.equals(y) for x, y in zip(ta, tb))
    assert a.expected_fact() == b.expected_fact()
    assert a.props == b.props
    _, tc = _stream(12)
    assert not ta[0].equals(tc[0])
    assert gen.documents(5, 200, 0.1)[0].equals(gen.documents(5, 200, 0.1)[0])
    assert gen.embeddings(5, 100)[0].equals(gen.embeddings(5, 100)[0])


def test_stream_properties():
    s, (o1, p1, o2, p2) = _stream(3)
    assert s.props["orders"] == 500
    assert s.props["order_events"] == o1.num_rows + o2.num_rows
    assert s.props["redelivered_from_earlier_batches"] > 0
    assert s.props["late_orders"] > 0
    # Redeliveries repeat whole records; the distinct records of a topic
    # number each partition 0..n-1 across both batches.
    for a, b in ((o1, o2), (p1, p2)):
        df = pa.concat_tables([a, b]).to_pandas().drop_duplicates()
        for _, offsets in df.groupby("partition")["offset"]:
            assert sorted(offsets) == list(range(len(offsets)))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


def _land(spark, tmp_path, name, table):
    path = os.path.join(tmp_path, f"{name}.parquet")
    pq.write_table(table, path)
    return spark.read.parquet(path)


def test_events_parse_with_no_null_order_id(spark, tmp_path):
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.parse import (
        bronze_projection,
        parse_orders,
        parse_payments,
    )

    _, (o, p, _, _) = _stream(4)
    orders = parse_orders(bronze_projection(_land(spark, tmp_path, "o", o)))
    payments = parse_payments(bronze_projection(_land(spark, tmp_path, "p", p)))
    assert orders.count() == o.num_rows
    assert orders.filter(F.col("order_id").isNull() | F.col("event_ts").isNull()).count() == 0
    assert payments.count() == p.num_rows
    assert payments.filter(F.col("order_id").isNull() | F.col("amount").isNull()).count() == 0


def test_expected_fact_matches_batch_pipeline(spark, tmp_path):
    from ecommerce_data_pipeline_spark import pipeline

    s = gen.EventStream(5)
    o, p = s.batch(500, T0 - gen.DAY_S, T0)
    lake = pipeline.Lakehouse(os.path.join(tmp_path, "lake"))
    pipeline.run_all(spark, lake, _land(spark, tmp_path, "o", o), _land(spark, tmp_path, "p", p))
    assert run.fact_mismatches(spark, lake, s.expected_fact()) == []


def test_corpus_queries_match_their_oracles(spark, tmp_path):
    corpus = run.Corpus(1, str(tmp_path))
    diffs = run.oracle_diffs(spark, corpus.sf_dir, run.CORPUS_QUERIES)
    assert {q: d for q, d in diffs.items() if not d[0]} == {}


@pytest.mark.xfail(
    strict=True,
    reason="operators/dedup.py derives every MinHash permutation from one "
    "(h_i = i*(A*x+B) mod P), so LSH misses the Jaccard-0.93 pair (3, 61)",
)
def test_minhash_lsh_pairs_finds_every_near_duplicate(spark, tmp_path):
    corpus = run.Corpus(1425485670, str(tmp_path))
    (same, what), = run.oracle_diffs(spark, corpus.sf_dir, ["minhash_lsh_pairs"]).values()
    assert same, what
