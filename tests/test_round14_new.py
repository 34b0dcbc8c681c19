"""Round-14 additions: the round's new certified queries' kernels."""

from __future__ import annotations


def test_update_file_stats_pin_fresh_keeps_equality(spark, tmp_path):
    """pin_fresh materializes only the new files' stats rows; a chain of
    lazy pinned unions (the streaming append-and-fold shape) must stay
    row-for-row equal to a full rebuild."""
    from ecommerce_data_pipeline_spark.operators.fileindex import (
        build_file_stats,
        update_file_stats,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).coalesce(2).write.mode("overwrite").parquet(path)
    index = build_file_stats(spark, path, ["v"]).localCheckpoint(eager=True)
    # Three appends, each refreshed lazily with only its fresh rows pinned.
    for lo in (100, 200, 300):
        spark.range(lo, lo + 50).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)
        index = update_file_stats(spark, path, index, ["v"], pin_fresh=True)
    got = sorted(map(tuple, index.collect()))
    want = sorted(map(tuple, build_file_stats(spark, path, ["v"]).collect()))
    assert got == want and len(got) >= 5


def test_compaction_plan_arithmetic(spark, tmp_path):
    """plan_compaction: ceil(total/target) output files, worth_it only
    when small files outnumber the planned output; compact() produces
    exactly the planned count."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        compact,
        file_sizes,
        plan_compaction,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    ).repartition(20).write.mode("overwrite").parquet(path)
    sizes = file_sizes(spark, path)
    total = sizes.agg(F.sum("file_bytes").alias("t")).first()["t"]
    plan = plan_compaction(sizes, target_bytes=(total + 3) // 4)
    assert plan["n_input_files"] == 20
    assert plan["n_output_files"] == 4
    assert plan["worth_it"]
    out = str(tmp_path / "out")
    compact(spark.read.parquet(path), plan).write.parquet(out)
    assert file_sizes(spark, out).count() == 4
    # Already-compacted layout: nothing small enough to justify a pass.
    plan2 = plan_compaction(file_sizes(spark, out), target_bytes=(total + 3) // 4)
    assert not plan2["worth_it"]


def test_retention_delete_split_and_untouched_files(spark, tmp_path):
    """retention_delete drops whole partitions below the cutoff month,
    rewrites exactly the boundary month, and leaves newer partitions'
    files byte-identical; remaining rows equal the row-level filter."""
    from ecommerce_data_pipeline_spark.operators.layout import (
        file_sizes,
        retention_delete,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-{1 + i % 4:02d}-{1 + i % 27:02d} 12:00:00") for i in range(400)],
        "id long, ts_s string",
    ).select("id", F.to_timestamp("ts_s").alias("ts"))
    df.withColumn("p", F.date_format("ts", "yyyy-MM")).write.partitionBy(
        "p"
    ).parquet(path)
    cutoff = "2024-02-10 00:00:00"
    before = {
        (r["file_path"], r["file_bytes"])
        for r in file_sizes(spark, path).collect()
        if "/p=2024-03" in r["file_path"] or "/p=2024-04" in r["file_path"]
    }
    stats = retention_delete(spark, path, "ts", cutoff, "p")
    assert stats["dropped"] == ["2024-01"]
    assert stats["rewritten"] == ["2024-02"]
    assert stats["untouched"] == ["2024-03", "2024-04"]
    after = {
        (r["file_path"], r["file_bytes"])
        for r in file_sizes(spark, path).collect()
        if "/p=2024-03" in r["file_path"] or "/p=2024-04" in r["file_path"]
    }
    assert before == after
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    want = {
        r["id"] for r in df.filter(F.col("ts") >= F.lit(cutoff)).collect()
    }
    assert got == want and got


def _month_table(spark, tmp_path, name="t"):
    from pyspark.sql import functions as F

    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, f"2024-{1 + i % 3:02d}-{1 + i % 27:02d} 12:00:00") for i in range(300)],
        "id long, ts_s string",
    ).select("id", F.to_timestamp("ts_s").alias("ts"))
    df.withColumn("p", F.date_format("ts", "yyyy-MM")).write.partitionBy(
        "p"
    ).parquet(path)
    return path, df


def test_retention_repair_completes_interrupted_swap(spark, tmp_path):
    """Crash between delete and rename: tmp dir exists, real dir gone —
    repair finishes the rename and the table reads whole."""
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.layout import (
        repair_retention,
        retention_delete,
    )

    path, df = _month_table(spark, tmp_path)
    # Simulate the crash state by hand: filtered rewrite staged in tmp,
    # original partition deleted, rename never happened.
    cutoff = "2024-02-10 00:00:00"
    part = f"{path}/p=2024-02"
    tmp = f"{path}/.retention_tmp_p=2024-02"
    spark.read.parquet(part).filter(F.col("ts") >= F.lit(cutoff)).write.parquet(tmp)
    shutil.rmtree(part)
    rep = repair_retention(spark, path)
    assert rep["completed"] == [".retention_tmp_p=2024-02"]
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    want = {
        r["id"]
        for r in df.filter(
            (F.date_format("ts", "yyyy-MM") != "2024-02")
            | (F.col("ts") >= F.lit(cutoff))
        ).collect()
    }
    assert got == want


def test_retention_repair_discards_uncommitted_tmp_and_rerun_is_clean(
    spark, tmp_path
):
    """Crash DURING the tmp write (no _SUCCESS marker): the original was
    never touched — repair discards the partial tmp and a re-run of
    retention_delete produces the exact filter."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.layout import retention_delete

    path, df = _month_table(spark, tmp_path)
    cutoff = "2024-02-10 00:00:00"
    tmp = f"{path}/.retention_tmp_p=2024-02"
    # Partial tmp: a write whose job never committed (_SUCCESS removed).
    spark.read.parquet(f"{path}/p=2024-02").limit(3).write.parquet(tmp)
    os.remove(f"{tmp}/_SUCCESS")
    stats = retention_delete(spark, path, "ts", cutoff, "p")
    assert stats["dropped"] == ["2024-01"] and stats["rewritten"] == ["2024-02"]
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    want = {r["id"] for r in df.filter(F.col("ts") >= F.lit(cutoff)).collect()}
    assert got == want


def test_retention_repair_finishes_swap_over_partially_deleted_original(
    spark, tmp_path
):
    """Crash MID-DELETE of the original (tmp committed, real dir partially
    gone): deciding by real-dir existence would discard the complete tmp
    and re-derive from the mutilated original, silently losing rows — the
    _SUCCESS rule finishes the swap instead and the table reads exactly
    the filtered rewrite."""
    import glob
    import os

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.layout import repair_retention

    path, df = _month_table(spark, tmp_path)
    cutoff = "2024-02-10 00:00:00"
    part = f"{path}/p=2024-02"
    tmp = f"{path}/.retention_tmp_p=2024-02"
    # The committed rewrite (this is what retention_delete stages).
    spark.read.parquet(part).filter(F.col("ts") >= F.lit(cutoff)).write.parquet(tmp)
    # Simulate the crash landing mid-way through the file-by-file delete
    # of the original: one part file already gone, the dir still there.
    os.remove(sorted(glob.glob(f"{part}/part-*.parquet"))[0])
    rep = repair_retention(spark, path)
    assert rep["completed"] == [".retention_tmp_p=2024-02"]
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    want = {
        r["id"]
        for r in df.filter(
            (F.date_format("ts", "yyyy-MM") != "2024-02")
            | (F.col("ts") >= F.lit(cutoff))
        ).collect()
    }
    assert got == want


def test_advisor_ignores_null_keys_in_skew_probe(spark):
    """NULL join keys never reach an equi-join's shuffle (isnotnull
    pushdown), so a NULL-heavy probe must not read as skewed."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.advisor import advise_join

    probe = spark.createDataFrame(
        [(None, i) for i in range(500)] + [(k % 50, 0) for k in range(200)],
        "k long, v long",
    )
    build = spark.range(0, 5_000).select(F.col("id").alias("k"))
    a = advise_join(probe, build, "k", broadcast_rows=0, skew_share=0.05)
    assert a.strategy != "salted"
    assert a.top_key_share < 0.05


def test_execute_advice_falls_back_on_unsupported_how(spark):
    """A cached 'salted'/'bloom_prune' prescription executed with a join
    type its operator can't rewrite falls back to the plain join instead
    of crashing (advice is per table pair, not per join type)."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.advisor import (
        JoinAdvice,
        execute_advice,
    )

    probe = spark.range(0, 200).select((F.col("id") % 40).alias("k"))
    build = spark.range(0, 20).select(F.col("id").alias("k"))
    common = dict(
        probe_rows=200, build_rows=20, probe_key_ndv=40, build_key_ndv=20,
        top_key_share=0.5, suggested_n_salts=4,
    )
    # bloom with LEFT join: pruning is unsound, plain left join expected.
    adv = JoinAdvice("bloom_prune", "t", **common)
    got = sorted(
        r["k"] for r in execute_advice(adv, probe, build, "k", how="left").collect()
    )
    want = sorted(r["k"] for r in probe.join(build, "k", "left").collect())
    assert got == want
    # salted with SEMI join: salting unsupported, plain semi join expected.
    adv = JoinAdvice("salted", "t", **common)
    got = sorted(
        r["k"]
        for r in execute_advice(
            adv, probe, build, "k", spread_col="k", how="semi"
        ).collect()
    )
    want = sorted(r["k"] for r in probe.join(build, "k", "semi").collect())
    assert got == want


def test_fileindex_partitioned_layout_keeps_partition_column(spark, tmp_path):
    """update_file_stats and skipping_scan(base_path=...) on a
    hive-partitioned table: refresh works with a partition stat column
    visible, and the survivor scan keeps the partition column so the
    schema matches the plain full-table read."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.fileindex import (
        build_file_stats,
        skipping_scan,
        update_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        "id", (F.col("id") % 3).alias("p"), (F.col("id") % 100).alias("v")
    )
    df.write.partitionBy("p").parquet(path)
    index = build_file_stats(spark, path, ["v"]).localCheckpoint(eager=True)
    # Append into a new partition, refresh incrementally.
    spark.range(300, 400).select(
        "id", F.lit(7).alias("p"), (F.col("id") % 100).alias("v")
    ).write.mode("append").partitionBy("p").parquet(path)
    index = update_file_stats(spark, path, index, ["v"])
    got = sorted(map(tuple, index.collect()))
    want = sorted(map(tuple, build_file_stats(spark, path, ["v"]).collect()))
    assert got == want
    scanned, stats = skipping_scan(spark, index, "v", 10, 20, base_path=path)
    assert "p" in scanned.columns
    rows = scanned.select("id", "p", "v").collect()
    want_rows = spark.read.parquet(path).filter(
        (F.col("v") >= 10) & (F.col("v") <= 20)
    ).select("id", "p", "v").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want_rows))


def test_bloom_prune_probe_with_dunder_bloom_column(spark):
    """A probe frame that itself carries a __bloom column neither
    collides with the broadcast filter nor loses its column."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators import bloom as B

    build = spark.range(0, 10).select(F.col("id").alias("k"))
    probe = spark.createDataFrame(
        [(1, "mine"), (99, "x")], "k long, __bloom string"
    )
    kept = B.bloom_prune(probe, "k", B.build_bloom(build, "k"))
    rows = kept.collect()
    assert [(r["k"], r["__bloom"]) for r in rows] == [(1, "mine")]


def test_boilerplate_strip_edges(spark):
    """Removal-stage edge cases: a doc whose every segment is shared
    rebuilds to '', an empty/NULL doc yields 0 segments and '', and a
    unique doc survives verbatim (normalized)."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.operators.curate import boilerplate_strip

    shared = "nav home about contact"  # one full 4-word segment
    docs = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta gamma delta", "s"),
            (2, f"{shared} epsilon zeta eta theta", "s"),
            (3, shared, "s"),
            (4, None, "s"),
            (5, "one of a kind", "s"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["clean_text"])
        for r in boilerplate_strip(docs).collect()
    }
    assert got[1] == (2, 1, "alpha beta gamma delta")
    assert got[2] == (2, 1, "epsilon zeta eta theta")
    assert got[3] == (1, 1, "")
    assert got[4] == (0, 0, "")
    assert got[5] == (1, 0, "one of a kind")
