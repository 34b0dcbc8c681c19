"""Gold fact: per-minute sales rollup with incremental late-data MERGE.

Reproduces dbt model gold.fct_sales_minute (fct_sales_minute.sql:8-41):

    with orders as (select order_id, event_ts, total_amount from
                    silver.orders_clean where event_ts is not null),
         enriched as (select order_id, fully_paid from
                      silver.order_payments_enriched),
    select date_trunc('minute', event_ts) minute_bucket,
           sum(total_amount) gmv, count(*) paid_orders,
           current_timestamp processed_ts
    from orders join enriched using(order_id)
    where fully_paid = true group by 1

plus the incremental policy (fct_sales_minute.sql:35-40): only events newer
than max(minute_bucket) - 2 hours are recomputed and MERGEd by minute_bucket,
which both bounds work per run and reprocesses late arrivals inside the
2-hour window (ST5).

Scale notes: the aggregation is a single hash shuffle on minute_bucket after
a join on order_id; the 2-hour predicate prunes the scan to recent partitions
when silver is partitioned by event_date. The scalar max(minute_bucket) read
is one metadata-sized aggregate on the (small) gold table — the only
driver-side value in the pipeline, same as the reference's scalar subquery.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.functions import money_sum
from ecommerce_data_pipeline_spark.lake import ParquetTable

EPOCH = dt.datetime(1970, 1, 1)


def sales_minute_agg(orders_clean: DataFrame, enriched: DataFrame) -> DataFrame:
    """A2 + J2 + P4/P5: paid-order rows → minute buckets.

    gmv rounded to 2dp (money boundary; double-sum order insensitivity).
    """
    orders = orders_clean.filter(F.col("event_ts").isNotNull()).select(
        "order_id", "event_ts", "total_amount"
    )
    paid = enriched.filter(F.col("fully_paid")).select("order_id")
    return (
        orders.join(paid, "order_id", "inner")
        .groupBy(F.date_trunc("minute", F.col("event_ts")).alias("minute_bucket"))
        .agg(
            money_sum("total_amount").alias("gmv"),
            F.count(F.lit(1)).alias("paid_orders"),
        )
        .withColumn("processed_ts", F.current_timestamp())
    )


def incremental_bound(spark: SparkSession, fact: ParquetTable) -> dt.datetime:
    """The incremental lower bound: coalesce(max(minute_bucket) - 2h, epoch)
    (fct_sales_minute.sql:35-40)."""
    if not fact.exists():
        return EPOCH
    row = fact.read(spark).agg(F.max("minute_bucket").alias("m")).first()
    if row is None or row["m"] is None:
        return EPOCH
    return row["m"] - dt.timedelta(hours=2)


def build_fct_sales_minute(
    spark: SparkSession,
    orders_clean: DataFrame,
    enriched: DataFrame,
    fact: ParquetTable,
) -> None:
    """Incremental build: slice input to the 2-hour lookback, aggregate,
    MERGE by minute_bucket (operator S9)."""
    bound = incremental_bound(spark, fact)
    sliced = orders_clean.filter(F.col("event_ts") >= F.lit(bound))
    updates = sales_minute_agg(sliced, enriched)
    # probe_insert_only=False: the lookback starts 2h BEFORE the current
    # max bucket, so the update set always overlaps the target — the
    # insert-only probe can never win here and just costs a job per build.
    fact.merge(
        spark, updates, keys=["minute_bucket"], probe_insert_only=False
    )


def vw_sales_last_n_minutes(fact_df: DataFrame, minutes: int = 60, anchor=None) -> DataFrame:
    """gold.vw_sales_last_60min (vw_sales_last_60min.sql:1-5).

    ``anchor`` defaults to current_timestamp like the reference; tests pass
    the data's max bucket for determinism.
    """
    anchor_col = F.lit(anchor) if anchor is not None else F.current_timestamp()
    return fact_df.filter(
        F.col("minute_bucket") >= F.timestamp_add("MINUTE", F.lit(-minutes), anchor_col)
    )


def recent_sales_top_k(fact_df: DataFrame, k: int = 10) -> DataFrame:
    """O1: ORDER BY minute_bucket DESC LIMIT k (README.md:159-162).
    TakeOrderedAndProject physically — no full sort at scale."""
    return fact_df.orderBy(F.col("minute_bucket").desc()).limit(k)
