"""Round-16 additions: the generalized versioned-manifest maintenance
commit for compaction/Z-order (VERDICT r15 ask #3), and the four ADVICE
r15 fixes (urlsplit-free _canon, skipping_scan survivor dedup,
empty-index-dir probe, vacuum writer-gap floor — the floor's test lives
with the r15 vacuum test it extends)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_canon_survives_literal_hash_and_question_mark():
    """ADVICE r15: urlsplit truncated a DECODED path at a literal '#' or
    '?' — exactly the representation drift _canon absorbs. The manual
    split keeps them in the path and still decodes percent-escapes."""
    from ecommerce_data_pipeline_spark.operators.fileindex import _canon

    # Decoded form with literal '#'/'?' stays whole.
    assert _canon("file:/t/a#b/part-0.parquet") == "file:/t/a#b/part-0.parquet"
    assert _canon("file:/t/a?b/part-0.parquet") == "file:/t/a?b/part-0.parquet"
    # Encoded and decoded forms of one file map to one string.
    assert _canon("file:/t/a%23b/x.parquet") == "file:/t/a#b/x.parquet"
    assert _canon("file:/t/a%20b/x.parquet") == _canon("file:/t/a b/x.parquet")
    # Empty-authority spellings collapse (file:///x == file:/x).
    assert _canon("file:///t/x.parquet") == "file:/t/x.parquet"
    # Authority preserved; scheme-less strings pass through untouched.
    assert _canon("hdfs://nn:8020/t/a%20b") == "hdfs://nn:8020/t/a b"
    assert _canon("/plain/path/x.parquet") == "/plain/path/x.parquet"


def test_skipping_scan_dedupes_mixed_form_index(spark, tmp_path):
    """ADVICE r15: an index holding BOTH encoded and decoded rows for one
    file (built pre-_canon, refreshed post-) must not hand the reader the
    same path twice — rows would double-count."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        build_file_stats,
        skipping_scan,
    )

    path = str(tmp_path / "t")
    spark.range(100).withColumn("v", F.col("id") * 2).coalesce(1).write.parquet(
        path
    )
    index = build_file_stats(spark, path, ["v"]).localCheckpoint(eager=True)
    # Duplicate every row under a percent-encoded spelling of its path.
    encoded = index.withColumn(
        "file_path", F.regexp_replace("file_path", "part-", "part%2D")
    )
    doubled = index.unionByName(encoded)
    df, stats = skipping_scan(spark, doubled, "v", 0, 50)
    assert stats["n_files_total"] == 1 and stats["n_files_scanned"] == 1
    assert df.count() == 26  # v in [0, 50] even -> 26 rows, not 52


def test_append_file_stats_recovers_from_empty_index_dir(spark, tmp_path):
    """ADVICE r15: a crash inside compact_file_stats' delete-then-write
    overwrite can leave the index dir present but EMPTY; the existence
    probe must read that as 'no index yet' and stat everything, not die
    on parquet schema inference."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        append_file_stats,
    )

    table = str(tmp_path / "t")
    idx = str(tmp_path / "idx")
    spark.range(50).withColumn("v", F.col("id")).coalesce(2).write.parquet(
        table
    )
    os.makedirs(idx)  # the crashed-overwrite geometry: dir exists, no files
    n = append_file_stats(spark, table, idx, ["v"])
    assert n == 2
    assert spark.read.parquet(idx).count() == 2
    # Second refresh with no new files is a no-op.
    assert append_file_stats(spark, table, idx, ["v"]) == 0


def test_rewrite_versioned_commit_and_skip(spark, tmp_path):
    """The generalized maintenance commit (r15 ask #3): per-partition
    rewrites land as new generations behind ONE manifest publish;
    skip-all is a true no-op (no manifest bump); a crashed staging dir
    is swept at entry."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        compact_versioned,
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        rewrite_versioned,
        zorder_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, float(i), f"g{i % 3}") for i in range(60)],
        "id long, v double, p string",
    )
    init_versioned_table(spark, df.repartition(8), path, "p")
    ver0, mapping0 = read_versioned_manifest(spark, path)
    before = sorted(r["id"] for r in read_versioned(spark, path).collect())
    # A crashed prior attempt's staging dir must be swept at entry.
    spark.range(3).write.parquet(f"{path}/.staging_g0__gen-9")

    # Skip-all: rewrite_fn returns None everywhere -> no manifest bump.
    out = rewrite_versioned(spark, path, lambda d, v: None)
    assert out == {"rewritten": [], "skipped": ["g0", "g1", "g2"],
                   "version": ver0}
    assert not os.path.exists(f"{path}/.staging_g0__gen-9")
    assert read_versioned_manifest(spark, path) == (ver0, mapping0)

    # Compaction: every 8-file partition folds, one commit.
    stats = compact_versioned(spark, path, target_bytes=8 << 20)
    assert stats["rewritten"] == ["g0", "g1", "g2"] and not stats["skipped"]
    assert stats["version"] == ver0 + 1
    assert all(p["worth_it"] for p in stats["plans"].values())
    assert sorted(
        r["id"] for r in read_versioned(spark, path).collect()
    ) == before
    # Immediately re-compacting the compacted table is not worth it.
    again = compact_versioned(spark, path, target_bytes=8 << 20)
    assert again["rewritten"] == [] and again["version"] == stats["version"]

    # Targeted Z-order (the incremental-maintenance shape): only the
    # named partition moves to a new generation; the commit leaves a
    # MIXED-generation mapping as one consistent snapshot.
    z1 = zorder_versioned(
        spark, path, ["v", "id"], bits=3, n_files=2, values=["g1"]
    )
    assert z1["rewritten"] == ["g1"] and sorted(z1["skipped"]) == ["g0", "g2"]
    assert z1["version"] == stats["version"] + 1
    _, mixed = read_versioned_manifest(spark, path)
    assert mixed["g1"].endswith("__gen-2")
    assert mixed["g0"].endswith("__gen-1") and mixed["g2"].endswith("__gen-1")
    assert sorted(
        r["id"] for r in read_versioned(spark, path).collect()
    ) == before

    # Full Z-order pass: same commit discipline, rows preserved.
    z = zorder_versioned(spark, path, ["v", "id"], bits=3, n_files=2)
    assert z["rewritten"] == ["g0", "g1", "g2"]
    assert z["version"] == z1["version"] + 1
    assert sorted(
        r["id"] for r in read_versioned(spark, path).collect()
    ) == before
    _, mapping = read_versioned_manifest(spark, path)
    assert mapping["g1"].endswith("__gen-3")
    assert mapping["g0"].endswith("__gen-2")
    assert mapping["g2"].endswith("__gen-2")


def test_rewrite_versioned_rejects_empty_manifest(spark, tmp_path):
    from ecommerce_data_pipeline_spark.operators.layout import (
        rewrite_versioned,
        write_versioned_manifest,
    )

    path = str(tmp_path / "vt")
    os.makedirs(path)
    write_versioned_manifest(spark, path, {}, 0)
    with pytest.raises(ValueError, match="empty manifest"):
        rewrite_versioned(spark, path, lambda d, v: d)


def test_rewrite_versioned_crash_recovery(spark, tmp_path):
    """Crash geometry coverage for the generalized maintenance commit:
    (a) crash DURING a staging write leaves a hidden .staging_ dir —
    readers and vacuum never see it, the next run's entry sweep drops
    it; (b) crash AFTER the generation rename but BEFORE the manifest
    publish leaves an orphan gen dir — readers still resolve the old
    manifest, the default vacuum spares the orphan (writer-gap floor),
    and the next maintenance run supersedes it in place."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        compact_versioned,
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        vacuum_versioned,
    )

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(40)], "id long, p string"
    )
    init_versioned_table(spark, df.repartition(6), path, "p")
    ver0, _ = read_versioned_manifest(spark, path)
    before = sorted(r["id"] for r in read_versioned(spark, path).collect())

    # Crash geometry (b): a completed rewrite whose publish never landed.
    spark.range(7).write.parquet(f"{path}/g0__gen-1")
    # Readers resolve manifest ver0 — the orphan is invisible.
    assert sorted(
        r["id"] for r in read_versioned(spark, path).collect()
    ) == before
    # The default vacuum spares the minutes-old orphan (it cannot know
    # whether a publish is in flight); only the single-writer override
    # may sweep it.
    assert vacuum_versioned(spark, path, min_age_sec=0.0) == []
    # The next maintenance run supersedes the orphan: its dest dir name
    # collides (g0 -> gen-1), the stale orphan is deleted and replaced,
    # and ONE manifest publish commits the whole run.
    stats = compact_versioned(spark, path, target_bytes=8 << 20)
    assert "g0" in stats["rewritten"] and stats["version"] == ver0 + 1
    assert sorted(
        r["id"] for r in read_versioned(spark, path).collect()
    ) == before
    # The superseded-orphan path must not leak the crashed attempt's
    # rows: g0's live generation holds exactly its 20 original ids.
    _, mapping = read_versioned_manifest(spark, path)
    g0 = sorted(
        r["id"]
        for r in spark.read.parquet(f"{path}/{mapping['g0']}").collect()
    )
    assert g0 == sorted(i for i in range(40) if i % 2 == 0)
