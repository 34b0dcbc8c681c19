"""Operator goldens for the training-data curation module
(operators/curate.py): PII redaction, deterministic sampling,
contamination, repetition, shard assignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_data_pipeline_spark.operators import curate as cu


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_redact_pii_scrubs_and_counts(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at a.b+c@ex-ample.org or 10.1.2.3 call +1 555-123-4567 ok"),
            (2, "no pii here"),
            (3, "two mails x@y.io z@w.co one ip 255.255.255.255"),
        ],
    )
    out = {r["doc_id"]: r for r in cu.redact_pii(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
    assert out[1]["redacted_text"] == "mail me at [EMAIL] or [IP] call [PHONE] ok"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["redacted_text"] == "no pii here"
    assert (out[3]["n_emails"], out[3]["n_ips"]) == (2, 1)
    assert "[EMAIL]" in out[3]["redacted_text"] and "[IP]" in out[3]["redacted_text"]


def test_stratified_sample_deterministic_and_rate(spark):
    rows = [(i, f"doc {i}", "en" if i % 2 == 0 else "xx") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, stratum string")
    kept = cu.stratified_sample(df, {"en": 5000}, default_bp=0).collect()
    # Only the en stratum survives; rate ≈ 50% of the 1000 en docs.
    assert all(r["stratum"] == "en" for r in kept)
    assert 400 <= len(kept) <= 600
    # Deterministic: second run keeps exactly the same doc_ids.
    kept2 = cu.stratified_sample(df, {"en": 5000}, default_bp=0).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in kept2)
    # Buckets actually bound the rate.
    assert all(r["sample_bucket"] < 5000 for r in kept)


def test_ngram_contamination_flags_overlap(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "a completely different sentence with no overlap at all"),
            (3, "quick brown fox jumps over"),  # shares 13-grams with doc 1
        ],
    )
    eval_docs = _docs(spark, [(100, "the quick brown fox jumps")])
    out = {r["doc_id"]: r for r in cu.ngram_contamination(corpus, eval_docs).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated"] > 0
    assert not out[2]["contaminated"] and out[2]["n_contaminated"] == 0
    assert out[3]["contaminated"]


def test_repetition_stats_duplicate_units(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta. gamma delta. alpha beta. epsilon"),
            (2, "unique one. unique two. unique three"),
        ],
    )
    out = {r["doc_id"]: r for r in cu.repetition_stats(df).collect()}
    assert out[1]["n_units"] == 4 and out[1]["n_distinct_units"] == 3
    assert out[1]["dup_unit_ratio"] == 0.25
    assert out[2]["dup_unit_ratio"] == 0.0


def test_shard_assign_partitions_and_positions(spark):
    df = _docs(spark, [(i, f"d{i}") for i in range(500)])
    out = cu.shard_assign(df, n_shards=4).collect()
    assert len(out) == 500
    shards = {r["shard"] for r in out}
    assert shards == {0, 1, 2, 3}
    # Positions are dense 0..n-1 within each shard.
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(len(positions)))
    # Deterministic across runs.
    out2 = cu.shard_assign(df, n_shards=4).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out2
    }


def test_deterministic_keep_uniformity(spark):
    df = spark.range(10000).select(F.col("id"))
    kept = df.filter(cu.deterministic_keep(F.col("id"), 2500)).count()
    assert 2200 <= kept <= 2800


def test_temperature_sample_rates_and_determinism(spark):
    """Temperature sampling: the smallest language is kept fully
    (rate_bp=10000), larger languages get monotonically smaller rates
    following (N_l/N_min)^(alpha-1), and membership is run-stable."""
    rows = [(i, f"t{i}", "en" if i < 800 else ("es" if i < 950 else "sw"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = cu.temperature_sample(df, alpha=0.7).collect()
    rates = {r["lang"]: r["rate_bp"] for r in out}
    assert rates["sw"] == 10000  # smallest language kept fully
    # (800/50)^-0.3 = 0.4352 -> 4352; (150/50)^-0.3 = 0.7192 -> 7192
    assert rates["en"] == 4352 and rates["es"] == 7192
    kept = {r["doc_id"] for r in out}
    # All sw docs survive (rate 10000 keeps every bucket).
    assert all(i in kept for i in range(950, 1000))
    out2 = {r["doc_id"] for r in cu.temperature_sample(df, alpha=0.7).collect()}
    assert kept == out2


def test_duplicate_span_stats_toy(spark):
    """Two docs sharing one 8-word template + one unique doc: the shared
    span is flagged in both carriers, nowhere else."""
    import ecommerce_data_pipeline_spark.operators.dedup as dd

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, shared + " one two three"),
        (2, "x y " + shared),
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.duplicate_span_stats(df, w=8).collect()}
    assert out[1]["n_dup_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_span_ratio"] == 0.0
    assert out[1]["n_spans"] == 4  # 11 words -> 4 distinct 8-word spans


def test_leakage_safe_split_is_cluster_atomic(spark):
    # Three clusters: {1,2,3}, {10,11}, {20}. Every member must share its
    # cluster's split, and the assignment must be deterministic.
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "doc_id long, cluster_id long",
    )
    out = cu.leakage_safe_split(clusters).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    again = {(r["doc_id"], r["split"]) for r in cu.leakage_safe_split(clusters).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out}
    # Extreme basis points pin the outcome regardless of hash values.
    all_train = cu.leakage_safe_split(clusters, train_bp=10000, val_bp=0).collect()
    assert {r["split"] for r in all_train} == {"train"}


def test_bpe_pair_counts_toy(spark):
    from ecommerce_data_pipeline_spark.operators.text import bpe_pair_counts

    # "aaab aaab ab" -> vocab {aaab: 2, ab: 1};
    # pairs: aaab -> aa,aa,ab (x2), ab -> ab (x1)
    docs = spark.createDataFrame(
        [(1, "aaab aaab ab")], "doc_id long, text string"
    )
    rows = {r["pair"]: r["cnt"] for r in bpe_pair_counts(docs).collect()}
    assert rows == {"aa": 4, "ab": 3}


def test_bpe_pair_counts_ignores_single_char_words(spark):
    from ecommerce_data_pipeline_spark.operators.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "a b c de")], "doc_id long, text string"
    )
    rows = {r["pair"]: r["cnt"] for r in bpe_pair_counts(docs).collect()}
    assert rows == {"de": 1}


def test_int8_quantize_keep_carries_columns(spark):
    from ecommerce_data_pipeline_spark.operators.quantize import int8_quantize

    df = spark.createDataFrame(
        [(1, [1.0, -2.0], "x")], "vec_id long, embedding array<double>, tag string"
    )
    out = int8_quantize(df, keep=("tag",))
    assert out.columns == ["vec_id", "scale", "qvec", "tag"]
    row = out.collect()[0]
    assert row["tag"] == "x"
    # scale = 2/127; q = floor(v/scale + .5) -> [64, -127]
    assert row["qvec"] == [64, -127]


def test_drift_pin_gate_sizes_uri_escaped_paths(spark, tmp_path, monkeypatch):
    """source_quality_drift sizes its scan from inputFiles() URIs: a sf dir
    whose name holds a space (percent-escaped in the URI) must still be
    sized, so above the gate the pin engages — the scored frame's scans
    move out of the plan into the checkpoint — and no warning is raised."""
    import shutil
    import warnings

    from ecommerce_data_pipeline_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    sf_dir = tmp_path / "sf dir"
    sf_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", sf_dir / "documents.parquet")

    def plan_scans(gate_bytes: int) -> int:
        monkeypatch.setenv("SPARK_GRAFT_DRIFT_PIN_BYTES", str(gate_bytes))
        df = QUERIES["source_quality_drift"](spark, str(sf_dir))
        return df._jdf.queryExecution().logical().toString().count("Relation")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pinned, unpinned = plan_scans(1), plan_scans(1 << 40)
    assert not [w for w in caught if "source_quality_drift" in str(w.message)]
    assert pinned < unpinned
