"""Streaming medallion: file-source Structured Streaming variant of the
batch pipeline.

Reference shape being reproduced (Kafka → Delta):

- S1/S2 Kafka source: ``readStream.format("kafka").option("subscribe",…)
  .option("startingOffsets","earliest").option("failOnDataLoss","false")``
  (bronze_orders_raw.py:37-43). The Kafka connector jar is not bundled in
  this environment, so sources here are file streams of the same
  Kafka-shaped rows — swapping ``_read_stream`` for the Kafka reader is a
  one-line change and nothing downstream moves.
- S5/ST1/ST2: checkpointed append sink with a 10 s processing-time trigger
  (bronze_orders_raw.py:56-61). Tests use ``availableNow`` (drain all
  pending input as micro-batches, then stop) — same code path, bounded run.
- ST3: replay tolerance — re-running with a fresh checkpoint re-reads
  everything; the downstream W1 dedup + MERGE keys make that idempotent.
- ST4/ST5: silver/gold run as ``foreachBatch`` over the SAME batch
  transforms, so the late-data policy (2-hour lookback MERGE) is identical
  in both modes; ``streaming_minute_fact`` shows the watermark formulation.

Scale notes: the bronze stage is per-record projection — scales with source
partitions, no state. The silver/gold foreachBatch stages bound their work
per micro-batch (dedup+merge of the batch only); state lives in the lake
tables, not the state store, which is what keeps an order_id-keyed stream
joinable at 100 TB (SURVEY.md §7.3 risk 6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ecommerce_data_pipeline_spark.functions import money_sum
from ecommerce_data_pipeline_spark.pipeline import Lakehouse
from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
from ecommerce_data_pipeline_spark.quality import observe_quality
from ecommerce_data_pipeline_spark.operators.parse import (
    bronze_projection,
    parse_orders,
    parse_payments,
)

DEFAULT_TRIGGER = {"processingTime": "10 seconds"}  # bronze_orders_raw.py:60


def stage_event_files(
    spark: SparkSession, events: DataFrame, out_dir: str, n_files: int = 4
) -> StructType:
    """Write a derived event stream as N parquet files — the stand-in for a
    Kafka topic with N segments; ``maxFilesPerTrigger`` then carves them
    into micro-batches. Returns the schema for the streaming reader.

    4 files + maxFilesPerTrigger=2 = 2 micro-batches per stream: still a
    real multi-batch drain (checkpoint advance, MERGE idempotence across
    batches all exercised) at half the per-trigger machinery cost of the
    old 8-file staging — availableNow trigger overhead is per-batch and
    was 87% of the bench query's wall time."""
    events.repartition(n_files).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).schema


def _read_stream(
    spark: SparkSession, src_dir: str, schema: StructType, files_per_trigger: int
) -> DataFrame:
    # Kafka equivalent (requires the kafka connector jar on the classpath):
    #   sources.kafka.kafka_stream_reader(spark, servers, topic).load()
    # — same option contract as bronze_orders_raw.py:37-43; the swap is
    # plan-verified by tests/test_kafka_wiring.py, including that the
    # binary-column source schema feeds bronze_projection unchanged.
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )


def stream_bronze(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    bronze_path: str,
    checkpoint: str,
    trigger: dict | None = None,
    files_per_trigger: int = 2,
):
    """S5: checkpointed streaming append of the bronze projection.

    Returns the started StreamingQuery; callers ``awaitTermination`` (the
    availableNow trigger stops by itself after draining pending input).
    """
    raw = _read_stream(spark, src_dir, schema, files_per_trigger)
    # In-flight ingest counters (quality.observe_quality): per-batch row
    # counts ride the write itself and surface in
    # StreamingQueryProgress.observedMetrics["bronze_quality"] — no
    # second pass, no extra query.
    observed, _ = observe_quality(bronze_projection(raw), "bronze_quality")
    return (
        observed
        .writeStream.format("parquet")
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def run_streaming_pipeline(
    spark: SparkSession,
    lake: Lakehouse,
    orders_src: str,
    payments_src: str,
    orders_schema: StructType,
    payments_schema: StructType,
    checkpoint_root: str,
    bronze_files_per_trigger: int = 2,
    silver_batches: int = 1,
    phases: dict | None = None,
) -> None:
    """End-to-end streaming medallion with availableNow semantics.

    Bronze: two checkpointed append streams (S5). Silver: foreachBatch over
    the bronze streams — each micro-batch is deduped, parsed and MERGEd into
    the silver tables (ST4: periodic batch as streaming; the MERGE keys make
    replays idempotent, ST3). Enrich + gold run once after the streams
    drain, exactly like the reference's dataset-triggered dbt run.

    ``bronze_files_per_trigger`` sizes only the BRONZE micro-batches; the
    silver streams size their own triggers internally (``_silver_fpt``) so
    each drains in exactly ``silver_batches`` micro-batches regardless of
    how many files bronze produced. Default 1: availableNow trigger
    machinery is per-batch and dominated the bench query's wall time, and
    MERGE idempotence across batches is covered by the dedicated
    ``silver_batches=2`` test (tests/test_streaming.py), not the bench
    path. At production scale the trigger is processingTime and this knob
    is irrelevant.

    ``phases`` (optional dict) receives the wall-clock split — bronze /
    silver stream drains, enrich, gold — so benchmark numbers can separate
    per-trigger machinery from compute.

    The two STREAMS are independent until enrich (orders and payments
    never meet before the enrichment join), so the stage barriers are
    relaxed per stream (r17, guide §2.6 "overlap independent jobs"):
    each silver stream starts as soon as ITS OWN bronze has drained,
    instead of waiting for BOTH bronzes. The overlap comes entirely from
    ``DataStreamWriter.start()`` being asynchronous — the main thread
    awaits bronze-orders, starts silver-orders (which then runs
    concurrently with the still-draining bronze-payments), awaits
    bronze-payments, starts silver-payments, then awaits both silvers.
    NO driver threads: an earlier r17 formulation ran each chain from a
    2-thread pool and hit intermittent 15-35 s stalls in the silver
    drains (3 stalls across 2 measurement sessions, worst
    silver_drain_sec 34.0 vs the ~1.7 s norm — plain pool threads plus
    concurrent foreachBatch py4j callbacks; never reproduced without the
    pool). Micro-batch counts, checkpoint locations, MERGE semantics and
    the per-stream ordering (silver reads only its own fully-drained
    bronze) are unchanged. ``bronze_drain_sec`` is the wall clock until
    both bronzes drained, ``silver_drain_sec`` the remaining wall clock
    until both silvers drained, ``chains_wall_sec`` their sum — same
    keys as the threaded formulation, wall-honest either way.
    """
    import time as _time

    _t = _time.time

    def _mark(key: str, val: float) -> None:
        if phases is not None:
            phases[key] = round(val, 3)

    def _silver_orders_batch(batch: DataFrame, batch_id: int) -> None:
        clean = parse_orders(kafka_identity_dedup(batch))
        lake.silver_orders.merge(
            batch.sparkSession, clean, keys=["topic", "partition", "offset"]
        )

    def _silver_payments_batch(batch: DataFrame, batch_id: int) -> None:
        clean = parse_payments(kafka_identity_dedup(batch))
        lake.silver_payments.merge(
            batch.sparkSession, clean, keys=["topic", "partition", "offset"]
        )

    def _silver_fpt(path: str) -> int:
        # maxFilesPerTrigger that drains the stream in exactly
        # ``silver_batches`` micro-batches, independent of how many
        # physical files bronze's own micro-batches produced (Spark may
        # split/recombine them by maxPartitionBytes). silver_batches=2
        # exercises both MERGE code paths (bootstrap overwrite, then the
        # incremental MERGE) — the dedicated test runs that; the default 1
        # pays trigger machinery once.
        n = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        return max(1, -(-n // max(1, silver_batches)))  # ceil(n/batches)

    def _start_silver(bronze_table, suffix: str, silver_fn):
        """Start (asynchronously) the silver stream over a fully-drained
        bronze dir; every path (checkpoint, bronze dir, silver table) is
        stream-private."""
        bronze_schema = spark.read.parquet(bronze_table.path).schema
        return (
            _read_stream(
                spark,
                bronze_table.path,
                bronze_schema,
                _silver_fpt(bronze_table.path),
            )
            .writeStream.foreachBatch(silver_fn)
            .option(
                "checkpointLocation",
                os.path.join(checkpoint_root, f"silver_{suffix}"),
            )
            .trigger(availableNow=True)
            .start()
        )

    t_chains = _t()
    q1 = stream_bronze(
        spark,
        orders_src,
        orders_schema,
        lake.bronze_orders.path,
        os.path.join(checkpoint_root, "bronze_orders"),
        files_per_trigger=bronze_files_per_trigger,
    )
    q2 = stream_bronze(
        spark,
        payments_src,
        payments_schema,
        lake.bronze_payments.path,
        os.path.join(checkpoint_root, "bronze_payments"),
        files_per_trigger=bronze_files_per_trigger,
    )
    # Chained starts, no driver threads: silver-orders begins while
    # bronze-payments may still be draining (see the docstring's stall
    # note for why this is not done from a thread pool).
    q1.awaitTermination()
    s1 = _start_silver(lake.bronze_orders, "orders", _silver_orders_batch)
    q2.awaitTermination()
    t_bronze_done = _t()
    _mark("bronze_drain_sec", t_bronze_done - t_chains)
    s2 = _start_silver(lake.bronze_payments, "payments", _silver_payments_batch)
    s1.awaitTermination()
    s2.awaitTermination()
    _mark("silver_drain_sec", _t() - t_bronze_done)
    _mark("chains_wall_sec", _t() - t_chains)

    from ecommerce_data_pipeline_spark.pipeline import run_enrich, run_gold

    t0 = _t()
    run_enrich(spark, lake)
    _mark("enrich_sec", _t() - t0)
    t0 = _t()
    run_gold(spark, lake)
    _mark("gold_sec", _t() - t0)


def streaming_minute_fact(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """ST5 as a watermark: the idiomatic streaming formulation of the
    2-hour late-data policy — a tumbling 1-minute window aggregation that
    keeps accepting events up to 2 hours late and finalizes (emits in
    append mode) once the watermark passes.

    Works on a streaming DataFrame; on a batch DataFrame the watermark is a
    no-op and the result equals the batch minute fact (tested both ways).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 minute").alias("w"))
        .agg(
            money_sum(value_col).alias("gmv"),
            F.count(F.lit(1)).alias("purchases"),
        )
        .select(F.col("w.start").alias("minute_bucket"), "gmv", "purchases")
    )
