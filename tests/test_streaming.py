"""Streaming-layer tests (ST1-ST5, ST7): micro-batched ingest must produce
exactly the batch pipeline's output; replays must be idempotent; the state
machine must enforce legal transitions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark import pipeline
from ecommerce_data_pipeline_spark.lake import ParquetTable
from ecommerce_data_pipeline_spark.operators.state import (
    SHIPMENT_STATE_RANKS,
    conditional_state_merge,
    fold_state_events,
)
from ecommerce_data_pipeline_spark.queries import QUERIES
from ecommerce_data_pipeline_spark.sources.events import orders_events, payments_events
from ecommerce_data_pipeline_spark.streaming import (
    run_streaming_pipeline,
    stage_event_files,
    streaming_minute_fact,
)
from tests.conftest import SF_DIR, ts


@pytest.fixture(scope="module")
def stream_sources(spark, tmp_path_factory):
    """The staged order and payment event files: {stream: (dir, schema)}."""
    root = tmp_path_factory.mktemp("stream-src")
    out = {}
    for name, events in (("orders", orders_events), ("payments", payments_events)):
        src = str(root / name)
        out[name] = (src, stage_event_files(spark, events(spark, SF_DIR), src))
    return out


@pytest.fixture(scope="module")
def streamed_lake(spark, tmp_path_factory, stream_sources):
    root = tmp_path_factory.mktemp("stream")
    (orders_src, o_schema), (payments_src, p_schema) = (
        stream_sources["orders"], stream_sources["payments"]
    )
    lake = pipeline.Lakehouse(str(root / "lake"))
    run_streaming_pipeline(
        spark,
        lake,
        orders_src,
        payments_src,
        o_schema,
        p_schema,
        checkpoint_root=str(root / "ckpt"),
        # 2 silver micro-batches: this fixture is the DEDICATED coverage for
        # multi-batch silver semantics (bootstrap overwrite then incremental
        # MERGE, dedup split across batches); the bench path drains silver
        # in 1 batch for speed and leans on this test for the 2-batch case.
        silver_batches=2,
    )
    return lake


def test_streaming_fact_equals_batch(spark, streamed_lake):
    """The defining check: micro-batched ingest (2 batches per stream —
    maxFilesPerTrigger=2 over 4 staged files for bronze; silver sized to
    exactly bootstrap + incremental MERGE) ends at the same gold fact as
    the single-shot batch pipeline / the oracle-verified registry query."""
    streamed = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in streamed_lake.fct_sales_minute.read(spark).collect()
    }
    direct = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in QUERIES["fct_sales_minute"](spark, SF_DIR).collect()
    }
    assert streamed == direct


def test_streaming_bronze_checkpointed(spark, streamed_lake):
    # Bronze kept every raw record (incl. redelivery duplicates) — dedup is
    # silver's job (ST3); checkpoint dir exists and is non-trivial.
    bronze_n = streamed_lake.bronze_orders.read(spark).count()
    silver_n = streamed_lake.silver_orders.read(spark).count()
    assert bronze_n > silver_n  # the %20==0 redelivery dups


def test_silver_stream_bronze_schema_from_projection(
    spark, streamed_lake, stream_sources
):
    """The silver streams take the bronze schema from analysing
    ``bronze_projection`` of the source stream instead of a schema job
    over the bronze dir; that schema is the one the bronze files hold."""
    from ecommerce_data_pipeline_spark.operators.parse import bronze_projection

    for name, bronze in (
        ("orders", streamed_lake.bronze_orders),
        ("payments", streamed_lake.bronze_payments),
    ):
        src_dir, src_schema = stream_sources[name]
        analysed = bronze_projection(
            spark.readStream.schema(src_schema).parquet(src_dir)
        )
        assert analysed.dtypes == spark.read.parquet(bronze.path).dtypes, name


def test_streaming_silver_replay_idempotent(spark, streamed_lake):
    """ST3: replaying a full micro-batch into the silver MERGE changes
    nothing (at-least-once tolerance via MERGE keys)."""
    from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
    from ecommerce_data_pipeline_spark.operators.parse import parse_orders

    before = streamed_lake.silver_orders.read(spark).count()
    replay = parse_orders(
        kafka_identity_dedup(streamed_lake.bronze_orders.read(spark).limit(500))
    )
    streamed_lake.silver_orders.merge(
        spark, replay, keys=["topic", "partition", "offset"]
    )
    assert streamed_lake.silver_orders.read(spark).count() == before


def test_streaming_minute_fact_batch_equivalence(spark):
    """The watermarked window agg equals the batch minute fact when run on
    a bounded frame (watermark is a no-op in batch — same column contract)."""
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_type") == "purchase")
    wm = {
        str(r["minute_bucket"]): (r["gmv"], r["purchases"])
        for r in streaming_minute_fact(ev).collect()
    }
    batch = {
        str(r["minute_bucket"]): (r["gmv"], r["purchases"])
        for r in QUERIES["events_minute_fact"](spark, SF_DIR).collect()
    }
    assert wm == batch


def test_streaming_minute_fact_emits_closed_windows(spark, tmp_path):
    """Run the watermarked agg as a real stream in append mode: only
    windows the watermark has passed are finalized."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ev = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:10"), 10.0),
            (2, ts("2024-01-01 10:01:10"), 20.0),
            (3, ts("2024-01-01 14:00:00"), 40.0),  # advances watermark past 10:0x
        ],
        "event_id long, ts timestamp, value double",
    )
    schema = stage_event_files(spark, ev, src, n_files=1)
    stream = (
        spark.readStream.schema(schema).parquet(src)
    )
    q = (
        streaming_minute_fact(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {str(r["minute_bucket"]): r["gmv"] for r in spark.read.parquet(out).collect()}
    # 10:00 and 10:01 are > 2h behind the 14:00 watermark → finalized;
    # 14:00 itself is still open → not emitted.
    assert rows == {"2024-01-01 10:00:00": 10.0, "2024-01-01 10:01:00": 20.0}


# ---------------------------------------------------------------------------
# ST7 state machine
# ---------------------------------------------------------------------------


def test_fold_state_events_monotone(spark):
    ev = spark.createDataFrame(
        [
            ("o1", "CREATED", ts("2024-01-01 10:00:00")),
            ("o1", "PAID", ts("2024-01-01 10:05:00")),
            ("o1", "PAID", ts("2024-01-01 10:06:00")),  # idempotent skip: first PAID wins
            ("o2", "CREATED", ts("2024-01-01 09:00:00")),
            ("o3", "BOGUS", ts("2024-01-01 09:00:00")),  # illegal → ignored entirely
        ],
        "order_id string, state string, event_ts timestamp",
    )
    out = {r["order_id"]: r for r in fold_state_events(ev).collect()}
    assert set(out) == {"o1", "o2"}
    assert out["o1"]["state"] == "PAID"
    assert out["o1"]["state_ts"] == ts("2024-01-01 10:05:00")
    assert out["o2"]["state"] == "CREATED"


def test_conditional_state_merge_guards(spark, tmp_path):
    table = ParquetTable(str(tmp_path / "state"))
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "order_id string, state string, state_ts timestamp, n_events long"
    )
    conditional_state_merge(
        spark, table, mk([("o1", "READY_TO_SHIP", ts("2024-01-01 10:00:00"), 1)]),
        ranks=SHIPMENT_STATE_RANKS,
    )
    # Regression attempt: PENDING_PAYMENT < READY_TO_SHIP → rejected.
    conditional_state_merge(
        spark, table, mk([("o1", "PENDING_PAYMENT", ts("2024-01-01 11:00:00"), 1)]),
        ranks=SHIPMENT_STATE_RANKS,
    )
    assert table.read(spark).first()["state"] == "READY_TO_SHIP"
    # Legal advance applies; new key inserts.
    conditional_state_merge(
        spark,
        table,
        mk([
            ("o1", "DISPATCHED", ts("2024-01-01 12:00:00"), 1),
            ("o2", "PENDING_PAYMENT", ts("2024-01-01 12:00:00"), 1),
        ]),
        ranks=SHIPMENT_STATE_RANKS,
    )
    out = {r["order_id"]: r["state"] for r in table.read(spark).collect()}
    assert out == {"o1": "DISPATCHED", "o2": "PENDING_PAYMENT"}


def test_processing_time_trigger_ingests(spark, tmp_path):
    """ST1: the reference's processing-time micro-batch trigger shape —
    a continuously-running checkpointed stream picks up files appearing in
    the source dir; stopped manually once the sink has the rows."""
    import time

    from ecommerce_data_pipeline_spark.sources.events import orders_events
    from ecommerce_data_pipeline_spark.streaming.medallion import stream_bronze

    src = str(tmp_path / "src")
    ev = orders_events(spark, SF_DIR).limit(40)
    schema = stage_event_files(spark, ev, src, n_files=4)
    q = stream_bronze(
        spark,
        src,
        schema,
        str(tmp_path / "bronze"),
        str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 seconds"},
        files_per_trigger=2,
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(str(tmp_path / "bronze")).count()
            except Exception:
                n = 0
            if n >= 40:
                break
            time.sleep(1)
        assert n == 40
        assert q.isActive  # continuous trigger keeps running (unlike availableNow)
    finally:
        q.stop()


def test_stream_fold_states_equals_batch_fold(spark, tmp_path):
    """applyInPandasWithState state machine over micro-batches lands on the
    same per-key states as the batch fold over the full history."""
    from ecommerce_data_pipeline_spark.streaming.stateful import stream_fold_states

    events = spark.createDataFrame(
        [
            ("o1", "CREATED", ts("2024-01-01 10:00:00")),
            ("o1", "PAID", ts("2024-01-01 10:05:00")),
            ("o1", "PAID", ts("2024-01-01 10:03:00")),  # earlier PAID wins
            ("o2", "CREATED", ts("2024-01-01 11:00:00")),
            ("o2", "BOGUS", ts("2024-01-01 11:01:00")),  # illegal: ignored
            ("o3", "PAID", ts("2024-01-01 12:00:00")),  # PAID before CREATED seen
            ("o3", "CREATED", ts("2024-01-01 11:59:00")),
        ],
        "order_id string, state string, event_ts timestamp",
    )
    src = str(tmp_path / "src")
    # 4 single-file micro-batches: state must carry across triggers.
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_fold_states(stream)
        .writeStream.format("memory")
        .queryName("folded_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per key per touching batch; n_events is
    # monotone per key -> the max-n_events row is the final state.
    out = spark.sql(
        """SELECT order_id, state, state_ts, n_events FROM (
             SELECT *, row_number() OVER (PARTITION BY order_id
                 ORDER BY n_events DESC) rn FROM folded_states) WHERE rn=1"""
    )
    got = {r["order_id"]: r for r in out.collect()}
    batch = {
        r["order_id"]: r
        for r in fold_state_events(events).collect()
    }
    assert set(got) == set(batch) == {"o1", "o2", "o3"}
    for k in batch:
        assert got[k]["state"] == batch[k]["state"], k
        assert got[k]["state_ts"] == batch[k]["state_ts"], k
        assert got[k]["n_events"] == batch[k]["n_events"], k


def test_stream_stream_join_with_watermarks_equals_batch(spark, tmp_path):
    """J4/ST8 idiomatic form: orders stream ⋈ payments stream with
    watermarks + a time-interval condition. State for each side is bounded
    by the watermark (the LRU-cache TTL analogue); availableNow drain must
    produce exactly the batch join's rows."""
    orders = spark.createDataFrame(
        [
            ("o1", ts("2024-01-01 10:00:00"), "a@x.com"),
            ("o2", ts("2024-01-01 11:00:00"), "b@x.com"),
            ("o3", ts("2024-01-01 12:00:00"), "c@x.com"),
        ],
        "order_id string, order_ts timestamp, email string",
    )
    payments = spark.createDataFrame(
        [
            ("o1", ts("2024-01-01 10:05:00"), 10.0),
            ("o2", ts("2024-01-01 11:59:00"), 20.0),
            ("o2", ts("2024-01-01 13:30:00"), 5.0),   # outside 1h window
            ("o9", ts("2024-01-01 10:10:00"), 99.0),  # unknown order
        ],
        "order_id string, pay_ts timestamp, amount double",
    )
    o_src, p_src = str(tmp_path / "o"), str(tmp_path / "p")
    orders.repartition(2).write.parquet(o_src)
    payments.repartition(2).write.parquet(p_src)

    def joined(o_df, p_df):
        return p_df.alias("p").join(
            o_df.alias("o"),
            F.expr(
                "p.order_id = o.order_id AND "
                "p.pay_ts BETWEEN o.order_ts AND o.order_ts + interval 1 hour"
            ),
        ).select("p.order_id", "o.email", "p.amount", "p.pay_ts")

    o_stream = (
        spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", 1)
        .parquet(o_src).withWatermark("order_ts", "2 hours")
    )
    p_stream = (
        spark.readStream.schema(payments.schema).option("maxFilesPerTrigger", 1)
        .parquet(p_src).withWatermark("pay_ts", "2 hours")
    )
    q = (
        joined(o_stream, p_stream)
        .writeStream.format("memory").queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["order_id"], r["amount"]) for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    want = {
        (r["order_id"], r["amount"]) for r in joined(orders, payments).collect()
    }
    assert got == want == {("o1", 10.0), ("o2", 20.0)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """W1's streaming twin: dropDuplicatesWithinWatermark on the Kafka
    identity removes broker redeliveries across micro-batches while the
    state store only retains keys inside the watermark horizon."""
    rows = spark.createDataFrame(
        [
            ("t", 0, 0, ts("2024-01-01 10:00:00"), "a"),
            ("t", 0, 0, ts("2024-01-01 10:00:10"), "a-redelivered"),
            ("t", 0, 1, ts("2024-01-01 10:01:00"), "b"),
            ("t", 1, 0, ts("2024-01-01 10:02:00"), "c"),
            ("t", 1, 0, ts("2024-01-01 10:02:00"), "c-redelivered"),
        ],
        "topic string, partition int, offset long, kafka_timestamp timestamp, raw_value string",
    )
    src = str(tmp_path / "src")
    rows.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("kafka_timestamp", "2 hours")
        .dropDuplicatesWithinWatermark(["topic", "partition", "offset"])
    )
    q = (
        stream.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT topic, partition, offset, count(*) c FROM dedup_stream GROUP BY 1,2,3"
    ).collect()
    assert len(out) == 3            # three distinct Kafka identities
    assert all(r["c"] == 1 for r in out)  # each exactly once


def test_stream_enrichment_cache_ttl_eviction(spark, tmp_path):
    """ST8 with TTL: the order→email cache serves hits while fresh and is
    EVICTED once the watermark passes last_update + 24h — the probe after
    expiry misses (null email), proving state does not grow forever."""
    import os
    import time as _time

    from ecommerce_data_pipeline_spark.streaming.stateful import (
        stream_enrichment_cache,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "order_id string, user_email string, event_ts timestamp"

    def stage(name, rows, mtime):
        """One micro-batch file; mtimes order the file-source triggers."""
        tmp = str(tmp_path / f"tmp_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{name}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    t0 = _time.time()
    # b1: install o1's email, then a same-batch probe -> hit.
    stage("b1", [
        ("o1", "a@x.com", ts("2024-01-01 10:00:00")),
        ("o1", None, ts("2024-01-01 11:00:00")),
    ], t0)
    # b2: unrelated key far in the future -> watermark jumps past o1's TTL.
    stage("b2", [("o9", None, ts("2024-01-03 12:00:00"))], t0 + 10)
    # b3: unrelated key again -> the trigger where o1's timeout fires.
    stage("b3", [("o9", None, ts("2024-01-03 13:00:00"))], t0 + 20)
    # b4: probe o1 after eviction -> miss.
    stage("b4", [("o1", None, ts("2024-01-03 14:00:00"))], t0 + 30)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_ts", "1 hour")
    )
    q = (
        stream_enrichment_cache(stream)
        .writeStream.format("memory")
        .queryName("enrich_cache")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["order_id"], str(r["event_ts"])): r["email"]
        for r in spark.sql("SELECT * FROM enrich_cache").collect()
    }
    assert rows[("o1", "2024-01-01 10:00:00")] == "a@x.com"  # install emits
    assert rows[("o1", "2024-01-01 11:00:00")] == "a@x.com"  # fresh hit
    assert rows[("o1", "2024-01-03 14:00:00")] is None  # post-TTL miss
