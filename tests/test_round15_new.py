"""Round-15 additions: the four ADVICE r14 fixes (retention-repair
ambiguity guard, root-relative hidden-segment listing, canonical path
comparison, join-type-aware skew advice) plus the null-group boilerplate
fix mirrored in both operators."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F


def _month_table(spark, tmp_path):
    """Two-month partitioned table (same fixture shape as round 14)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [
            (i, f"2024-0{1 + (i % 2)}-{10 + (i % 15):02d} 12:00:00")
            for i in range(40)
        ],
        "id long, ts string",
    ).withColumn("p", F.date_format("ts", "yyyy-MM"))
    df.write.partitionBy("p").mode("overwrite").parquet(path)
    return path, df


def test_retention_repair_raises_on_ambiguous_crash_state(spark, tmp_path):
    """tmp WITHOUT _SUCCESS + original partition GONE: on clusters with
    marksuccessfuljobs=false a committed tmp carries no marker, so this
    geometry may mean the tmp holds the ONLY copy of the partition —
    repair must refuse to discard it (ADVICE r14 medium)."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        repair_retention,
    )

    path, _ = _month_table(spark, tmp_path)
    part = f"{path}/p=2024-02"
    tmp = f"{path}/.retention_tmp_p=2024-02"
    # A committed rewrite written WITHOUT a success marker, then the
    # original fully deleted (crash after the delete, marker policy off).
    spark.read.parquet(part).limit(3).write.parquet(tmp)
    os.remove(f"{tmp}/_SUCCESS")
    shutil.rmtree(part)
    with pytest.raises(OSError, match="ambiguous retention crash state"):
        repair_retention(spark, path)
    # The tmp — potentially the only copy — must still be intact.
    assert spark.read.parquet(tmp).count() == 3


def test_versioned_retention_crash_and_commit_race(spark, tmp_path):
    """The manifest-pointer layout's crash contract: a crash BETWEEN the
    boundary rewrite and the manifest publish leaves only an orphan
    generation dir — invisible to readers, swept by vacuum; and a lost
    manifest-version race raises instead of silently publishing."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        vacuum_versioned,
        write_versioned_manifest,
    )

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + (i % 3)}") for i in range(30)], "id long, p string"
    )
    mapping = init_versioned_table(spark, df, path, "p")
    assert sorted(mapping) == ["2024-01", "2024-02", "2024-03"]
    before = sorted(r["id"] for r in read_versioned(spark, path).collect())
    # Simulated crash: a rewrite landed but its manifest never published.
    spark.range(5).write.parquet(f"{path}/2024-01__gen-1")
    # An IN-PROGRESS rewrite (dot-staged) must never be a vacuum
    # candidate regardless of age — a concurrent vacuum deleting it
    # mid-write would lose the boundary's only rewrite (review r15).
    spark.range(3).write.parquet(f"{path}/.staging_2024-02__gen-1")
    assert (
        sorted(r["id"] for r in read_versioned(spark, path).collect())
        == before
    ), "orphan generation leaked into a manifest read"
    # Writer-gap floor (ADVICE r15): a minutes-old unreferenced gen dir
    # may be a completed rewrite whose manifest publish is in flight, so
    # a small-min_age vacuum must SPARE it unless the caller asserts the
    # single-writer role itself.
    assert vacuum_versioned(spark, path, min_age_sec=0.0) == []
    swept = vacuum_versioned(
        spark, path, min_age_sec=0.0, assume_no_writer=True
    )
    assert swept == ["2024-01__gen-1"]
    assert spark.read.parquet(f"{path}/.staging_2024-02__gen-1").count() == 3
    # The next (single-writer) retention run sweeps crashed staging dirs
    # at entry.
    from ecommerce_data_pipeline_spark.operators.layout import (
        retention_delete_versioned,
    )

    retention_delete_versioned(spark, path, "p", "2024-02-15", "p")
    import os

    assert not os.path.exists(f"{path}/.staging_2024-02__gen-1")
    # Version conflict: publishing on top of a version that already
    # exists must raise (the concurrent commit won), not overwrite.
    ver, m = read_versioned_manifest(spark, path)
    with pytest.raises(OSError, match="manifest publish"):
        write_versioned_manifest(spark, path, m, ver - 1)
    assert read_versioned_manifest(spark, path)[0] == ver


def test_versioned_retention_edge_semantics(spark, tmp_path):
    """Documented edges: a cutoff beyond every partition publishes an
    empty mapping (read raises until new data commits), and NULL
    partition values survive any time cutoff (Hive default partition
    sorts above ISO prefixes)."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        init_versioned_table,
        read_versioned,
        read_versioned_manifest,
        retention_delete_versioned,
    )

    path = str(tmp_path / "vt2")
    df = spark.createDataFrame(
        [(1, "2024-01-05", "2024-01"), (2, "2024-02-05", "2024-02"),
         (3, None, None)],
        "id long, ts string, p string",
    )
    init_versioned_table(spark, df, path, "p")
    stats = retention_delete_versioned(
        spark, path, "ts", "2024-02-10 00:00:00", "p"
    )
    # 2024-01 expires whole; 2024-02 is the boundary (its one row is
    # below the cutoff, so its rewrite is empty); the null-partition
    # row is untouched.
    assert stats["dropped"] == ["2024-01"]
    assert stats["rewritten"] == ["2024-02"]
    assert len(stats["untouched"]) == 1
    got = read_versioned(spark, path).collect()
    assert [r["id"] for r in got] == [3]
    # Now expire everything, including... the null partition must STILL
    # survive (it sorts above the cutoff prefix) — undated rows are
    # never silently retention-deleted.
    stats = retention_delete_versioned(spark, path, "ts", "9999-12-31", "p")
    assert len(stats["untouched"]) == 1
    assert [r["id"] for r in read_versioned(spark, path).collect()] == [3]
    # A genuinely emptied mapping raises on read with a clear message.
    path2 = str(tmp_path / "vt3")
    init_versioned_table(
        spark,
        spark.createDataFrame([(1, "2024-01-05", "2024-01")],
                              "id long, ts string, p string"),
        path2,
        "p",
    )
    stats = retention_delete_versioned(spark, path2, "ts", "2025-01-01", "p")
    assert stats["dropped"] == ["2024-01"]
    assert read_versioned_manifest(spark, path2)[1] == {}
    with pytest.raises(Exception):
        read_versioned(spark, path2).collect()


def test_null_group_sentinel_matches_oracles():
    """The operator's sentinel and the oracles' chr(0) || '__null_group__'
    must stay the same string — drift would silently re-split null-source
    docs across the audit/removal pair."""
    from ecommerce_data_pipeline_spark.operators.curate import (
        NULL_GROUP_SENTINEL,
    )
    from ecommerce_data_pipeline_spark.queries import ORACLES

    assert NULL_GROUP_SENTINEL == "\x00" + "__null_group__"
    for q in ("boilerplate_strip", "boilerplate_segment_report"):
        assert "chr(0) || '__null_group__'" in ORACLES[q], q


def test_kcore_distributed_early_exit_matches_fixed_rounds(spark):
    """The distributed peel's convergence early-exit is result-invisible:
    forcing the distributed path (small_graph_edges=0) with generous
    rounds returns exactly the numpy fast path's fixed-round result."""
    from ecommerce_data_pipeline_spark.operators.graph import kcore

    # A 3-core (triangle+chords) plus a tail that peels away in 2 rounds.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    want = sorted(
        map(tuple, kcore(edges, k=3, rounds=8).collect())
    )  # numpy path
    got = sorted(
        map(
            tuple,
            kcore(edges, k=3, rounds=8, small_graph_edges=0).collect(),
        )
    )  # distributed path with early exit
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3, 4}


def test_canon_path_properties():
    """_canon property contract: idempotent, maps encoded and decoded
    forms of the same path to one string, leaves scheme-less paths
    alone (hypothesis over path-safe character pools)."""
    from urllib.parse import quote

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ecommerce_data_pipeline_spark.operators.fileindex import _canon

    segment = st.text(
        alphabet="abcXYZ019 ~!$&'()+,;=@-._", min_size=1, max_size=12
    ).filter(lambda s: s.strip())

    @given(st.lists(segment, min_size=1, max_size=5))
    @settings(max_examples=200, deadline=None)
    def check(segs):
        decoded_path = "/" + "/".join(segs)
        decoded = f"file:{decoded_path}"
        encoded = f"file:{quote(decoded_path, safe='/')}"
        # Same file, both representations -> one canonical string.
        assert _canon(decoded_path) == decoded_path  # scheme-less: untouched
        assert _canon(_canon(decoded)) == _canon(decoded)  # idempotent...
        assert _canon(encoded) == _canon(decoded)  # ...and unifying

    check()


def test_list_data_files_table_under_hidden_root(spark, tmp_path):
    """The hidden-segment rule applies only BELOW the input root: a table
    legitimately rooted under a dot-directory lists normally, while
    hidden dirs inside the table stay excluded (ADVICE r14 medium)."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        build_file_stats,
        list_data_files,
        prune_file_stats,
        update_file_stats,
    )

    root = str(tmp_path / ".data" / "tables" / "t")
    spark.range(20).withColumn("v", F.col("id") * 2).write.parquet(root)
    # A staging dir below the root must still be hidden.
    spark.range(5).write.parquet(f"{root}/.retention_tmp_p=x")
    files = list_data_files(spark, root)
    assert files, "table under a hidden ancestor listed as empty"
    assert all(".retention_tmp" not in f for f in files)
    assert all(f.rsplit("/", 1)[1].startswith("part-") for f in files)
    # The index round-trip the regression used to break: update sees no
    # phantom-new files, prune keeps every valid entry.
    idx = build_file_stats(spark, root, ["id"]).localCheckpoint(eager=True)
    idx = idx.filter(~F.col("file_path").contains(".retention_tmp"))
    n = idx.count()
    assert update_file_stats(spark, root, idx, ["id"]).count() == n
    assert prune_file_stats(spark, root, idx).count() == n


def test_fileindex_canonical_paths_with_spaces(spark, tmp_path):
    """_metadata.file_path is percent-encoded, the FS listing decoded:
    on a path with a space the raw-string compare used to re-stat every
    file (duplicate index rows) and prune everything (ADVICE r14 low).
    All comparisons now go through one canonical form."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        build_file_stats,
        prune_file_stats,
        skipping_scan,
        update_file_stats,
    )

    root = str(tmp_path / "tbl with space")
    spark.range(100).withColumn("v", F.col("id")).repartition(4).write.parquet(
        root
    )
    idx = build_file_stats(spark, root, ["v"]).localCheckpoint(eager=True)
    assert idx.count() == 4
    # Encoded index vs decoded listing: nothing is new.
    refreshed = update_file_stats(spark, root, idx, ["v"])
    assert refreshed.count() == 4
    # Prune must keep all four live entries, not drop them as missing.
    assert prune_file_stats(spark, root, idx).count() == 4
    # skipping_scan must be able to READ the survivors it selects.
    df, stats = skipping_scan(spark, idx, "v", 10, 20)
    got = sorted(r["v"] for r in df.collect())
    assert got == list(range(10, 21))
    assert stats["n_files_total"] == 4


def test_append_file_stats_persisted_index_roundtrip(spark, tmp_path):
    """The persisted append-table index (VERDICT r14 ask #6): refreshes
    append only NEW files' stats, a no-change refresh appends nothing,
    and compaction folds the accumulated small index files while
    preserving every row."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        append_file_stats,
        build_file_stats,
        compact_file_stats,
        list_data_files,
    )

    tbl = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    spark.range(40).withColumn("v", F.col("id")).repartition(3).write.parquet(
        tbl
    )
    assert append_file_stats(spark, tbl, idx, ["v"]) == 3
    # Idempotent: nothing new, nothing appended.
    assert append_file_stats(spark, tbl, idx, ["v"]) == 0
    n_idx_files_before = len(list_data_files(spark, idx))
    # Append more table data: only the new files are statted.
    spark.range(40, 80).withColumn("v", F.col("id")).repartition(2).write.mode(
        "append"
    ).parquet(tbl)
    assert append_file_stats(spark, tbl, idx, ["v"]) == 2
    assert len(list_data_files(spark, idx)) > n_idx_files_before
    rows_before = sorted(map(tuple, spark.read.parquet(idx).collect()))
    plan = compact_file_stats(spark, idx)
    assert plan["n_output_files"] < plan["n_input_files"]
    assert len(list_data_files(spark, idx)) == plan["n_output_files"]
    assert sorted(map(tuple, spark.read.parquet(idx).collect())) == rows_before
    # Equivalent to the full rebuild.
    want = sorted(map(tuple, build_file_stats(spark, tbl, ["v"]).collect()))
    assert rows_before == want


def test_advisor_join_type_changes_null_skew_verdict(spark):
    """For inner joins NULL keys never reach the shuffle (isnotnull
    pushdown) — not skew. For a LEFT join they DO, and all hash to one
    reducer — a null-heavy probe must read as skewed, and the inner
    share must use the non-null denominator (ADVICE r14 low)."""
    from ecommerce_data_pipeline_spark.operators.advisor import advise_join

    probe = spark.createDataFrame(
        [(None, i) for i in range(500)] + [(k % 50, 0) for k in range(200)],
        "k long, v long",
    )
    build = spark.range(0, 5_000).select(F.col("id").alias("k"))
    inner = advise_join(probe, build, "k", broadcast_rows=0, skew_share=0.05)
    assert inner.strategy != "salted"
    # 50 keys x 4 rows over a NON-NULL denominator of 200 -> 2%, not the
    # diluted 4/700 the total-rows denominator used to report.
    assert inner.top_key_share == pytest.approx(4 / 200, abs=1e-4)
    left = advise_join(
        probe, build, "k", broadcast_rows=0, skew_share=0.05, how="left"
    )
    assert left.strategy == "salted"
    assert left.top_key_share == pytest.approx(500 / 700, abs=1e-3)


def test_boilerplate_null_source_docs_form_their_own_group(spark):
    """NULL-source docs must not silently lose their text: they group
    under a sentinel, so unique text survives and shared text within the
    null group still dedups (ADVICE r14 low; applied to both the strip
    and the report operators)."""
    from ecommerce_data_pipeline_spark.operators.curate import (
        boilerplate_segment_report,
        boilerplate_strip,
    )

    shared = "nav home about contact"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta gamma delta", None),
            (2, f"{shared} epsilon zeta eta theta", None),
            (3, "one of a kind", None),
            (4, shared, "s"),  # alone in group 's': nothing shared
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["clean_text"])
        for r in boilerplate_strip(docs).collect()
    }
    # Docs 1/2 share the nav segment WITHIN the null group; their tails
    # survive. Doc 3's unique text survives verbatim. Doc 4's segment is
    # unique within 's' — kept. Before the fix docs 1-3 rebuilt to ''
    # with n_removed=0 (nd=NULL failed both join conditions).
    assert got[1] == (2, 1, "alpha beta gamma delta")
    assert got[2] == (2, 1, "epsilon zeta eta theta")
    assert got[3] == (1, 0, "one of a kind")
    assert got[4] == (1, 0, shared)
    rep = {
        r["doc_id"]: (r["n_segments"], r["n_boilerplate"])
        for r in boilerplate_segment_report(docs).collect()
    }
    assert rep[1] == (2, 1) and rep[2] == (2, 1)
    assert rep[3] == (1, 0) and rep[4] == (1, 0)
