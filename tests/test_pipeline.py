"""End-to-end pipeline tests: run_all on a tmpdir Lakehouse, MERGE
idempotency, late-data recompute, partition-relocation semantics, quality
suite (SURVEY.md §5; reference parity: silver_orders.py:72-85,
fct_sales_minute.sql:35-40, dbt schema.yml:4-20)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark import pipeline, quality
from ecommerce_data_pipeline_spark.lake import ParquetTable
from ecommerce_data_pipeline_spark.operators.fact import build_fct_sales_minute
from ecommerce_data_pipeline_spark.queries import QUERIES
from ecommerce_data_pipeline_spark.sources.events import orders_events, payments_events
from tests.conftest import SF_DIR, ts


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """run_all over the sf0.001 fixture streams, once per module."""
    root = str(tmp_path_factory.mktemp("lake"))
    lh = pipeline.Lakehouse(root)
    pipeline.run_all(
        spark,
        lh,
        orders_events(spark, SF_DIR),
        payments_events(spark, SF_DIR),
    )
    return lh


def test_run_all_fact_matches_registry_query(spark, lake):
    """The lakehouse-built gold fact equals the registry's direct
    fct_sales_minute computation (which is DuckDB-oracle-verified)."""
    built = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in lake.fct_sales_minute.read(spark).collect()
    }
    direct = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in QUERIES["fct_sales_minute"](spark, SF_DIR).collect()
    }
    assert built == direct


def test_gold_quality_suite_passes(spark, lake):
    results = quality.gold_fact_suite(lake.fct_sales_minute.read(spark))
    quality.run_checks(results)  # raises on failure
    assert all(r.passed for r in results)


def test_silver_partitioned_by_event_date(spark, lake):
    import os

    entries = os.listdir(lake.silver_orders.path)
    assert any(e.startswith("event_date=") for e in entries)


def test_merge_idempotency(spark, lake):
    """Re-running silver/enrich/gold must not change row counts (MERGE
    semantics S6/S7/S9; mirrors silver_orders.py:72-79 re-run safety)."""
    before = {
        "silver_orders": lake.silver_orders.read(spark).count(),
        "enriched": lake.enriched.read(spark).count(),
        "fact": lake.fct_sales_minute.read(spark).count(),
    }
    pipeline.run_silver(spark, lake)
    pipeline.run_enrich(spark, lake)
    pipeline.run_gold(spark, lake)
    after = {
        "silver_orders": lake.silver_orders.read(spark).count(),
        "enriched": lake.enriched.read(spark).count(),
        "fact": lake.fct_sales_minute.read(spark).count(),
    }
    assert before == after
    # And keys stay unique after the re-merge.
    assert (
        lake.fct_sales_minute.read(spark)
        .groupBy("minute_bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_late_data_recompute(spark, tmp_path):
    """ST5: an event 90 minutes older than the fact head lands inside the
    2-hour lookback → its minute bucket is recomputed and MERGEd
    (fct_sales_minute.sql:35-40)."""
    fact = ParquetTable(str(tmp_path / "fact"))

    def silver(rows):
        return spark.createDataFrame(
            rows, "order_id string, event_ts timestamp, total_amount double"
        )

    def enriched(rows):
        return spark.createDataFrame(rows, "order_id string, fully_paid boolean")

    head = ts("2024-01-01 12:00:00")
    s1 = silver([("1", head, 10.0)])
    e1 = enriched([("1", True)])
    build_fct_sales_minute(spark, s1, e1, fact)
    assert fact.read(spark).count() == 1

    late_ts = head - dt.timedelta(minutes=90)
    s2 = silver([("1", head, 10.0), ("2", late_ts, 5.0), ("3", late_ts, 7.0)])
    e2 = enriched([("1", True), ("2", True), ("3", True)])
    build_fct_sales_minute(spark, s2, e2, fact)
    out = {str(r["minute_bucket"]): r for r in fact.read(spark).collect()}
    assert len(out) == 2
    assert out["2024-01-01 10:30:00"]["gmv"] == 12.0
    assert out["2024-01-01 10:30:00"]["paid_orders"] == 2
    # Head bucket re-merged, not duplicated.
    assert out["2024-01-01 12:00:00"]["gmv"] == 10.0


def test_too_late_data_ignored(spark, tmp_path):
    """An event older than the 2-hour lookback does NOT rewrite history —
    the incremental bound excludes it (reference behavior: the cron+lookback
    never reprocesses buckets older than 2h)."""
    fact = ParquetTable(str(tmp_path / "fact"))
    head = ts("2024-01-01 12:00:00")
    s = spark.createDataFrame(
        [("1", head, 10.0)], "order_id string, event_ts timestamp, total_amount double"
    )
    e = spark.createDataFrame([("1", True)], "order_id string, fully_paid boolean")
    build_fct_sales_minute(spark, s, e, fact)

    ancient = head - dt.timedelta(hours=5)
    s2 = spark.createDataFrame(
        [("1", head, 10.0), ("2", ancient, 99.0)],
        "order_id string, event_ts timestamp, total_amount double",
    )
    e2 = spark.createDataFrame(
        [("1", True), ("2", True)], "order_id string, fully_paid boolean"
    )
    build_fct_sales_minute(spark, s2, e2, fact)
    buckets = {str(r["minute_bucket"]) for r in fact.read(spark).collect()}
    assert buckets == {"2024-01-01 12:00:00"}


def test_partitioned_merge_key_relocation(spark, tmp_path):
    """A key that arrives with a corrected partition value must not leave a
    stale duplicate in its old partition (Delta MERGE parity; ADVICE r01)."""
    t = ParquetTable(str(tmp_path / "t"), partition_by=["event_date"])
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double, event_date date"
    )
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.merge(spark, df([("a", 1.0, d1), ("b", 1.0, d1)]), keys=["k"])
    # 'a' moves to a corrected date; 'b' stays.
    t.merge(spark, df([("a", 2.0, d2)]), keys=["k"])
    out = {(r["k"], str(r["event_date"])): r["v"] for r in t.read(spark).collect()}
    assert out == {("a", "2024-01-02"): 2.0, ("b", "2024-01-01"): 1.0}

    # Relocation that empties a partition removes it entirely.
    t.merge(spark, df([("b", 3.0, d2)]), keys=["k"])
    rows = t.read(spark).collect()
    assert {(r["k"], str(r["event_date"]), r["v"]) for r in rows} == {
        ("a", "2024-01-02", 2.0),
        ("b", "2024-01-02", 3.0),
    }


def test_freshness_check_injectable_now(spark):
    df = spark.createDataFrame([(ts("2024-01-01 10:00:00"),)], "event_ts timestamp")
    ok = quality.freshness(df, "event_ts", now=ts("2024-01-01 11:00:00"))
    stale = quality.freshness(df, "event_ts", now=ts("2024-01-01 13:00:00"))
    assert ok.passed and not stale.passed


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    """OPTIMIZE-equivalent: many small merge-written files coalesce into
    ~target-sized ones with identical content."""
    import os

    t = ParquetTable(str(tmp_path / "t"))
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(str(i), float(i)) for i in range(lo, hi)], "k string, v double"
    ).repartition(8)
    t.merge(spark, mk(0, 100), keys=["k"])
    t.merge(spark, mk(50, 150), keys=["k"])
    t.merge(spark, mk(100, 200), keys=["k"])
    before = sum(
        1 for _, _, fs in os.walk(t.path) for f in fs if f.endswith(".parquet")
    )
    data_before = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    after = t.compact(spark)
    assert after < before
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == data_before
    assert len(data_before) == 200


def test_merge_capture_changes_cdf(spark, tmp_path):
    """Delta CDF parity: merge returns the change set tagged insert /
    update_postimage, pinned before the table mutates."""
    from ecommerce_data_pipeline_spark.lake import ParquetTable

    t = ParquetTable(str(tmp_path / "cdf"))
    base = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    )
    boot = t.merge(spark, base, keys=["k"], capture_changes=True)
    assert {(r["k"], r["_change_type"]) for r in boot.collect()} == {
        ("a", "insert"), ("b", "insert"),
    }
    upd = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    changes = t.merge(spark, upd, keys=["k"], capture_changes=True)
    got = {(r["k"], r["v"], r["_change_type"]) for r in changes.collect()}
    assert got == {("b", 20, "update_postimage"), ("c", 3, "insert")}
    # Table state reflects the merge; changes frame still readable after.
    state = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert state == {("a", 1), ("b", 20), ("c", 3)}
    # Plain merge still returns None (no behavior change for callers).
    assert t.merge(spark, upd, keys=["k"]) is None


def test_run_gold_cdf_equals_full_rebuild(spark, tmp_path):
    """Change-driven gold refresh: withhold a slice of payment events,
    bootstrap, then deliver them (some 'late' beyond any 2h window) — the
    CDF-driven refresh must land on exactly the full-rebuild fact."""
    root = str(tmp_path / "lake")
    lh = pipeline.Lakehouse(root, partition_silver=False)
    orders_raw = orders_events(spark, SF_DIR)
    payments_raw = payments_events(spark, SF_DIR)
    first, late = (
        payments_raw.filter(F.col("offset") % 7 != 0),
        payments_raw.filter(F.col("offset") % 7 == 0),
    )
    pipeline.run_all(spark, lh, orders_raw, first)

    # Late slice arrives (order dates span years — far outside any 2h
    # lookback). Silver-merge it, enrich with change capture, CDF-refresh.
    lh.bronze_payments.merge(
        spark,
        pipeline.bronze_projection(late),
        keys=["topic", "partition", "offset"],
    )
    pipeline.run_silver(spark, lh)
    changes = pipeline.run_enrich(
        spark, lh, lookback=dt.timedelta(days=10**5), capture_changes=True
    )
    assert changes is not None and changes.count() > 0
    pipeline.run_gold_cdf(spark, lh, changes)

    # Ground truth: a fresh lakehouse built with ALL events at once.
    truth_lh = pipeline.Lakehouse(str(tmp_path / "truth"), partition_silver=False)
    pipeline.run_all(spark, truth_lh, orders_raw, payments_raw)
    got = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in lh.fct_sales_minute.read(spark).collect()
    }
    want = {
        str(r["minute_bucket"]): (r["gmv"], r["paid_orders"])
        for r in truth_lh.fct_sales_minute.read(spark).collect()
    }
    assert got == want


def test_delete_keys_partitioned_and_flat(spark, tmp_path):
    """GDPR delete: keyed removal rewrites only hit partitions, drops
    emptied partition dirs, and leaves other partitions untouched."""
    from ecommerce_data_pipeline_spark.lake import ParquetTable

    rows = [
        ("u1", "2024-01-01", 1.0), ("u2", "2024-01-01", 2.0),
        ("u3", "2024-01-02", 3.0),  # sole row of its partition
    ]
    df = spark.createDataFrame(rows, "user string, day string, v double")
    part = ParquetTable(str(tmp_path / "part"), partition_by=["day"])
    part.overwrite(df)
    doomed = spark.createDataFrame([("u2",), ("u3",)], "user string")
    assert part.delete_keys(spark, doomed, keys=["user"]) == 2
    left = {r["user"] for r in part.read(spark).collect()}
    assert left == {"u1"}
    import os

    assert not os.path.exists(str(tmp_path / "part" / "day=2024-01-02"))

    flat = ParquetTable(str(tmp_path / "flat"))
    flat.overwrite(df)
    assert flat.delete_keys(spark, doomed, keys=["user"]) == 2
    assert flat.delete_keys(spark, doomed, keys=["user"]) == 0  # idempotent


def test_delete_keys_empties_table_without_crash(spark, tmp_path):
    """A delete that removes EVERY row must not crash on a post-mutation
    read (the emptied-table case): count comes from the pre-mutation
    semi-join, the table then reads as non-existent, and the next merge
    bootstraps it cleanly."""
    rows = [("u1", "2024-01-01", 1.0), ("u2", "2024-01-02", 2.0)]
    df = spark.createDataFrame(rows, "user string, day string, v double")
    for name, part_by in (("part", ["day"]), ("flat", [])):
        t = ParquetTable(str(tmp_path / name), partition_by=part_by)
        t.overwrite(df)
        doomed = spark.createDataFrame([("u1",), ("u2",)], "user string")
        assert t.delete_keys(spark, doomed, keys=["user"]) == 2
        if part_by:
            # Every partition dir dropped: reads as non-existent until the
            # next merge bootstraps it.
            assert not t.exists()
        else:
            # Flat overwrite keeps a schema-bearing empty table (Delta-like).
            assert t.exists() and t.read(spark).count() == 0
        # Next merge bootstraps / repopulates the emptied table.
        t.merge(spark, df.filter(F.col("user") == "u1"), keys=["user"])
        assert {r["user"] for r in t.read(spark).collect()} == {"u1"}


def test_delete_keys_capture_changes(spark, tmp_path):
    """capture_changes returns the removed rows' pre-images tagged
    'delete', readable after the mutation (Delta CDF delete parity)."""
    df = spark.createDataFrame(
        [("u1", "2024-01-01", 1.0), ("u2", "2024-01-01", 2.0)],
        "user string, day string, v double",
    )
    t = ParquetTable(str(tmp_path / "t"), partition_by=["day"])
    t.overwrite(df)
    doomed = spark.createDataFrame([("u2",)], "user string")
    removed, changes = t.delete_keys(
        spark, doomed, keys=["user"], capture_changes=True
    )
    assert removed == 1
    got = {(r["user"], r["v"], r["_change_type"]) for r in changes.collect()}
    assert got == {("u2", 2.0, "delete")}
    # Miss path returns an empty change set, not None.
    removed2, changes2 = t.delete_keys(
        spark, doomed, keys=["user"], capture_changes=True
    )
    assert removed2 == 0 and changes2.count() == 0


def test_run_gold_cdf_retracts_emptied_bucket(spark, tmp_path):
    """GDPR delete composed with the CDF gold refresh: when every paid
    order of a minute bucket is deleted from silver, the delete change
    set drives run_gold_cdf to RETRACT that bucket from the gold fact —
    the case a merge-only refresh can never express."""
    root = str(tmp_path / "lake")
    lh = pipeline.Lakehouse(root, partition_silver=False)
    pipeline.run_all(
        spark, lh, orders_events(spark, SF_DIR), payments_events(spark, SF_DIR)
    )
    fact = lh.fct_sales_minute.read(spark)
    fact_rows_before = fact.count()
    # Pick one bucket and doom ALL its orders (paid or not).
    bucket = fact.orderBy("minute_bucket").first()["minute_bucket"]
    orders_clean = lh.silver_orders.read(spark)
    # Pin the doom list: its lineage reads silver_orders, which the first
    # delete below rewrites — without the checkpoint the second delete
    # would re-scan vanished files (any multi-table GDPR flow must
    # materialize its key list up front for exactly this reason).
    doomed = (
        orders_clean.filter(F.date_trunc("minute", F.col("event_ts")) == F.lit(bucket))
        .select("order_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    removed, changes = lh.silver_orders.delete_keys(
        spark, doomed, keys=["order_id"], capture_changes=True
    )
    assert removed >= n_doomed  # every silver row of those orders
    lh.enriched.delete_keys(spark, doomed, keys=["order_id"])
    pipeline.run_gold_cdf(spark, lh, changes)
    after = lh.fct_sales_minute.read(spark)
    assert after.filter(F.col("minute_bucket") == F.lit(bucket)).count() == 0
    # Other buckets are untouched.
    assert after.count() == fact_rows_before - 1


def test_merge_schema_evolution_sync_all_columns(spark, tmp_path):
    """dbt on_schema_change: sync_all_columns parity (dbt_project.yml:13):
    an evolving update set adds its new columns (old rows null-filled),
    retains columns it dropped (null-filled in new rows), and never
    rewrites untouched partitions — their files keep the old schema and
    the union read serves nulls."""
    t = ParquetTable(
        str(tmp_path / "t"), partition_by=["event_date"], keep_versions=1
    )
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.merge(
        spark,
        spark.createDataFrame(
            [("a", 1.0, d1), ("b", 2.0, d2)], "k string, v double, event_date date"
        ),
        keys=["k"],
    )
    # Evolved batch: new column `source`, dropped column `v`; touches only d2.
    t.merge(
        spark,
        spark.createDataFrame(
            [("b", "kafka", d2), ("c", "s3", d2)],
            "k string, source string, event_date date",
        ),
        keys=["k"],
    )
    out = {
        r["k"]: (r["v"], r["source"], str(r["event_date"]))
        for r in t.read(spark).collect()
    }
    assert out == {
        "a": (1.0, None, "2024-01-01"),  # untouched partition, null-filled
        "b": (None, "kafka", "2024-01-02"),  # updated: v dropped, source set
        "c": (None, "s3", "2024-01-02"),  # inserted under the union schema
    }
    # The snapshot keeps its pre-evolution schema; the live recorded schema
    # is what a footer-merging read of every live file infers.
    assert "source" not in t.read_version(spark, 0).columns
    assert (
        t.read(spark).dtypes
        == spark.read.option("mergeSchema", "true").parquet(t.path).dtypes
    )
    # Untouched partition's files were NOT rewritten (still the old schema).
    import os

    d1_dir = os.path.join(t.path, "event_date=2024-01-01")
    old_schema_files = spark.read.parquet(d1_dir).columns
    assert "source" not in old_schema_files

    # A third merge in the evolved shape keeps working (idempotent contract).
    t.merge(
        spark,
        spark.createDataFrame(
            [("a", "api", d1)], "k string, source string, event_date date"
        ),
        keys=["k"],
    )
    assert {
        r["k"]: r["source"] for r in t.read(spark).collect()
    } == {"a": "api", "b": "kafka", "c": "s3"}


def test_merge_schema_evolution_rejects_dropped_partition_key(spark, tmp_path):
    t = ParquetTable(str(tmp_path / "t"), partition_by=["event_date"])
    t.merge(
        spark,
        spark.createDataFrame(
            [("a", 1.0, dt.date(2024, 1, 1))], "k string, v double, event_date date"
        ),
        keys=["k"],
    )
    with pytest.raises(ValueError, match="partition column"):
        t.merge(
            spark,
            spark.createDataFrame([("a", 2.0)], "k string, v double"),
            keys=["k"],
        )


def test_time_travel_versions_and_restore(spark, tmp_path):
    """Delta time-travel parity on plain parquet: every mutation archives a
    hard-link snapshot; read_version serves the pre-image and restore
    rolls the table back (archiving the rolled-back state too)."""
    t = ParquetTable(str(tmp_path / "t"), keep_versions=3)
    df = lambda rows: spark.createDataFrame(rows, "k string, v double")  # noqa: E731
    t.merge(spark, df([("a", 1.0), ("b", 2.0)]), keys=["k"])   # bootstrap
    assert t.versions() == []  # nothing existed before the bootstrap
    t.merge(spark, df([("a", 9.0)]), keys=["k"])               # v0 = pre-image
    t.merge(spark, df([("c", 3.0)]), keys=["k"])               # v1
    assert t.versions() == [0, 1]
    v0 = {r["k"]: r["v"] for r in t.read_version(spark, 0).collect()}
    assert v0 == {"a": 1.0, "b": 2.0}
    v1 = {r["k"]: r["v"] for r in t.read_version(spark, 1).collect()}
    assert v1 == {"a": 9.0, "b": 2.0}
    t.restore(spark, 0)                                        # v2 = pre-restore
    now = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert now == {"a": 1.0, "b": 2.0}
    assert t.versions() == [0, 1, 2]
    with pytest.raises(ValueError, match="not archived"):
        t.read_version(spark, 9)


def test_time_travel_partitioned_merge_and_pruning(spark, tmp_path):
    """Partition-pruned merges snapshot before the dynamic overwrite, and
    history is pruned to keep_versions."""
    t = ParquetTable(
        str(tmp_path / "t"), partition_by=["event_date"], keep_versions=2
    )
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double, event_date date"
    )
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    t.merge(spark, df([("a", 1.0, d1), ("b", 1.0, d2)]), keys=["k"])
    for i in range(3):  # three mutations -> v0..v2 archived, v0 pruned
        t.merge(spark, df([("a", float(10 + i), d1)]), keys=["k"])
    assert t.versions() == [1, 2]
    latest_pre = {
        r["k"]: r["v"] for r in t.read_version(spark, 2).collect()
    }
    assert latest_pre == {"a": 11.0, "b": 1.0}
    # the untouched partition is present in every snapshot (full pre-image)
    assert "b" in {r["k"] for r in t.read_version(spark, 1).collect()}


def test_vacuum_drops_history_and_stale_dirs(spark, tmp_path):
    import os

    t = ParquetTable(str(tmp_path / "t"), keep_versions=5)
    df = lambda rows: spark.createDataFrame(rows, "k string, v double")  # noqa: E731
    t.merge(spark, df([("a", 1.0)]), keys=["k"])
    t.merge(spark, df([("a", 2.0)]), keys=["k"])
    t.merge(spark, df([("a", 3.0)]), keys=["k"])
    assert t.versions() == [0, 1]
    os.makedirs(str(tmp_path / "t__stage_deadbeef"))  # interrupted write
    assert t.vacuum(retain_versions=1) >= 2
    assert t.versions() == [1]
    assert not os.path.exists(str(tmp_path / "t__stage_deadbeef"))
    # retaining more than exist removes nothing further
    assert t.versions() == [1] and t.vacuum(retain_versions=5) == 0
    assert {r["v"] for r in t.read(spark).collect()} == {3.0}


def test_vacuum_after_swap_crash_keeps_committed_data(spark, tmp_path, monkeypatch):
    """A crash between overwrite's two renames leaves the last committed
    data only in the ``__old_*`` sibling. vacuum must roll it back into
    place before sweeping the ``{base}__*`` leftovers, not delete it."""
    import os

    from ecommerce_data_pipeline_spark import lake

    path = str(tmp_path / "t")
    t = ParquetTable(path)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    real_rename = os.rename

    def crashing_rename(src, dst):
        real_rename(src, dst)
        if dst.startswith(f"{path}__old_"):
            raise OSError("simulated crash between swap renames")

    monkeypatch.setattr(lake.os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        t.overwrite(spark.createDataFrame([(3, "c")], "id long, s string"))
    monkeypatch.undo()
    assert not os.path.exists(path)

    t.vacuum()
    assert t.exists()
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]
    assert not [d for d in os.listdir(tmp_path) if "__old_" in d or "__tmp_" in d]


def _parquet_inodes(root: str) -> dict[str, int]:
    """{data file path relative to ``root``: inode} over every partition."""
    import os

    return {
        os.path.relpath(os.path.join(d, f), root): os.stat(os.path.join(d, f)).st_ino
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }


def test_merge_insert_only_appends_without_rewrite(spark, tmp_path):
    """A batch whose keys are all new takes the append fast path: existing
    data files are untouched (same inodes), result equals the union. On a
    partitioned table a matched batch then rewrites only its partition."""
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v double, day string"
    )
    for name, parts in (("flat", []), ("part", ["day"])):
        t = ParquetTable(str(tmp_path / name), partition_by=parts)
        t.merge(spark, df([("a", 1.0, "d1"), ("b", 2.0, "d2")]), keys=["k"])
        before = _parquet_inodes(t.path)
        t.merge(spark, df([("c", 3.0, "d2")]), keys=["k"])  # disjoint keys -> append
        after = _parquet_inodes(t.path)
        assert set(before).issubset(set(after))  # original files still present
        assert all(after[f] == ino for f, ino in before.items())  # not rewritten
        assert len(after) > len(before)
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == {"a": 1.0, "b": 2.0, "c": 3.0}
        # A matched-key batch still takes the rewrite path and updates in place.
        t.merge(spark, df([("a", 9.0, "d1")]), keys=["k"])
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == {"a": 9.0, "b": 2.0, "c": 3.0}
        if parts:
            final = _parquet_inodes(t.path)
            kept = {f for f in after if final.get(f) == after[f]}
            assert kept == {f for f in after if f.startswith("day=d2")}


def test_merge_evaluates_update_lineage_once(spark, tmp_path):
    """merge pins its update set: the update lineage (here a counting UDF
    on the key column, which every probe and the write read) is evaluated
    once per call on the partitioned rewrite, the partitioned insert-only
    append and the unpartitioned rewrite."""
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(k):
        evaluated.add(1)
        return k

    schema = "k string, v double, day string"
    base = [("a", 1.0, "d1"), ("b", 2.0, "d2")]
    cases = [
        ("part_rewrite", ["day"], [("a", 9.0, "d1"), ("c", 3.0, "d3")]),
        ("part_append", ["day"], [("c", 3.0, "d1"), ("d", 4.0, "d4")]),
        ("flat_rewrite", [], [("a", 9.0, "d1"), ("c", 3.0, "d3")]),
    ]
    for name, parts, rows in cases:
        t = ParquetTable(str(tmp_path / name), partition_by=parts)
        t.overwrite(spark.createDataFrame(base, schema))
        updates = spark.createDataFrame(rows, schema).withColumn("k", counted("k"))
        start = evaluated.value
        t.merge(spark, updates, keys=["k"])
        assert evaluated.value - start == len(rows), name
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == {**dict((k, v) for k, v, _ in base), **{k: v for k, v, _ in rows}}


def test_merge_string_partition_read_back_as_date(spark, tmp_path):
    """A string partition column that partition discovery reads back as a
    date. With a recorded schema it reads back a string; a legacy table
    without one (schema file deleted) is read by discovery as a date, so
    the update set carries strings and the target dates. Either way the
    one key probe must touch exactly the updates' partitions plus the one
    a key relocates out of — rewrite 2024-01-01 and 2024-01-03, drop the
    emptied 2024-01-02, leave 2024-01-04's file alone — and lose no row."""
    import os

    from ecommerce_data_pipeline_spark.lake import SCHEMA_FILE

    schema = "user string, day string, v double"
    for name, recorded in (("part", True), ("legacy", False)):
        t = ParquetTable(str(tmp_path / name), partition_by=["day"])
        t.overwrite(
            spark.createDataFrame(
                [
                    ("u1", "2024-01-01", 1.0), ("u2", "2024-01-01", 2.0),
                    ("u3", "2024-01-02", 3.0),  # sole row of its partition
                    ("u4", "2024-01-04", 4.0),
                ],
                schema,
            )
        )
        if not recorded:
            os.remove(os.path.join(t.path, SCHEMA_FILE))
        assert dict(t.read(spark).dtypes)["day"] == ("string" if recorded else "date")
        before = _parquet_inodes(t.path)
        upd = spark.createDataFrame(
            [("u1", "2024-01-01", 10.0), ("u3", "2024-01-03", 30.0)], schema
        )
        t.merge(spark, upd, keys=["user"])
        after = _parquet_inodes(t.path)
        assert sorted(d for d in os.listdir(t.path) if d.startswith("day=")) == [
            "day=2024-01-01", "day=2024-01-03", "day=2024-01-04",
        ], name
        assert {f for f in before if after.get(f) == before[f]} == {
            f for f in before if f.startswith("day=2024-01-04")
        }, name
        got = {(r["user"], str(r["day"]), r["v"]) for r in t.read(spark).collect()}
        assert got == {
            ("u1", "2024-01-01", 10.0), ("u2", "2024-01-01", 2.0),
            ("u3", "2024-01-03", 30.0), ("u4", "2024-01-04", 4.0),
        }, name


def test_read_plans_without_a_job(spark, tmp_path):
    """A partitioned table read plans from its recorded schema: no Spark
    job (no footer-merging schema inference) after an overwrite, an
    insert-only merge and an evolving merge."""
    sc = spark.sparkContext
    t = ParquetTable(str(tmp_path / "t"), partition_by=["day"])
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    writes = [
        lambda: t.overwrite(
            spark.createDataFrame([("a", 1.0, d1)], "k string, v double, day date")
        ),
        lambda: t.merge(  # new key: insert-only append
            spark,
            spark.createDataFrame([("b", 2.0, d2)], "k string, v double, day date"),
            keys=["k"],
        ),
        lambda: t.merge(  # new column, matched key: evolving rewrite
            spark,
            spark.createDataFrame(
                [("b", "s3", d2)], "k string, source string, day date"
            ),
            keys=["k"],
        ),
    ]
    for i, write in enumerate(writes):
        write()
        group = f"read-plans-without-a-job-{i}"
        sc.setJobGroup(group, group)
        try:
            columns = t.read(spark).columns
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], i
        assert columns == ["k", "v"] + (["source"] if i == 2 else []) + ["day"]
    got = {r["k"]: (r["v"], r["source"]) for r in t.read(spark).collect()}
    assert got == {"a": (1.0, None), "b": (None, "s3")}


def test_composite_partition_pruning_fallback_warns(spark, tmp_path):
    """Past the composite-partition cap, merge and delete_keys give up
    pruning for a whole-table rewrite, and say so with the table path and
    the partition count."""
    t = ParquetTable(str(tmp_path / "t"), partition_by=["a", "b"])
    schema = "k long, v double, a long, b long"
    t.overwrite(
        spark.createDataFrame([(i, 0.0, i % 2, i) for i in range(70)], schema)
    )
    upd = spark.createDataFrame([(i, 1.0, i % 2, i) for i in range(66)], schema)
    with pytest.warns(UserWarning, match=rf"{t.path}: 66 composite partitions"):
        t.merge(spark, upd, keys=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {i: (1.0 if i < 66 else 0.0) for i in range(70)}
    doomed = spark.createDataFrame([(i,) for i in range(65)], "k long")
    with pytest.warns(UserWarning, match=rf"{t.path}: 65 composite partitions"):
        assert t.delete_keys(spark, doomed, keys=["k"]) == 65
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(65, 70))


def test_merge_evolving_batch_takes_append_path(spark, tmp_path):
    """An all-new-keys batch with a drifted schema goes through sync THEN
    the append fast path: appended files carry the union schema and reads
    null-fill across old and new files."""
    import os

    t = ParquetTable(str(tmp_path / "t"))
    t.merge(
        spark,
        spark.createDataFrame([("a", 1.0)], "k string, v double"),
        keys=["k"],
    )
    before = {
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    }
    t.merge(
        spark,
        spark.createDataFrame([("b", "s3")], "k string, source string"),
        keys=["k"],
    )
    after = {f for f in os.listdir(t.path) if f.endswith(".parquet")}
    assert before.issubset(after) and len(after) > len(before)  # appended
    got = {
        r["k"]: (r["v"], r["source"]) for r in t.read(spark).collect()
    }
    assert got == {"a": (1.0, None), "b": (None, "s3")}
