"""Benchmark harness: runs the headline query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ..., "setup_sec": ...}

Each query is forced end-to-end with the noop sink (full computation,
no result serialization to the driver, no disk write). The derived
Kafka-shaped event streams are cached once per run so the bench
measures the pipeline, not the fixture generator.

The complete report goes to ``BENCH_FULL_sf<sf>_c<cpus>.json``, one file
per scale factor and core count. The same file is the baseline the next
run at that scale and core count compares against.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Regression rule: a query is flagged when its baseline time is at least
# MIN_PREV_SEC (below that is timer noise), it ran more than
# RATIO_THRESHOLD times slower and the excess is more than
# MIN_ABS_DELTA_SEC (first-touch JIT regularly doubles a 0.1 s query with
# no plan change) — and all three still hold after one solo re-run.
RATIO_THRESHOLD = 1.5
MIN_PREV_SEC = 0.2
MIN_ABS_DELTA_SEC = 0.3

# One shared session running 200+ queries back-to-back inflates the
# slowest ones by up to ~2x (GC pressure, shuffle-file cleanup, block-
# manager churn), so queries at least this slow also get a solo re-run.
HEAVY_SEC = 2.5

# The sf1 tier: data-parallel heavy queries over the cheap-to-replicate
# tables. Document-reading queries are left out because the documents'
# word-shuffle replicas cost more to generate than the tier itself.
SF1_TIER = [
    "lineitem_pricing_summary",
    "orders_column_profile",
    "part_triangles",
    "part_reachability_rcte",
    "events_minute_users",
    "user_sessions",
]


def force(df) -> None:
    """Materialize fully: noop sink keeps all columns + all rows flowing
    through the physical plan without collect() or disk IO."""
    df.write.format("noop").mode("overwrite").save()


def baseline_name(sf: str, cpus: int) -> str:
    """The full report's file, and the baseline of the next run at the
    same scale factor and core count."""
    return f"BENCH_FULL_sf{sf}_c{cpus}.json"


def is_regression(now: float, prev: float | None) -> bool:
    return (
        prev is not None
        and prev >= MIN_PREV_SEC
        and now / prev > RATIO_THRESHOLD
        and now - prev > MIN_ABS_DELTA_SEC
    )


def regressions(timings: dict[str, float], baseline: dict[str, float]) -> list[dict]:
    """Queries that trip the regression rule against the baseline,
    worst ratio first."""
    flagged = [
        {
            "query": q,
            "prev_sec": baseline[q],
            "now_sec": t,
            "ratio": round(t / baseline[q], 2),
        }
        for q, t in sorted(timings.items())
        if is_regression(t, baseline.get(q))
    ]
    return sorted(flagged, key=lambda r: r["ratio"], reverse=True)


def warm(spark, sf_dir: str) -> float:
    """Build the set-up every timed query shares and return its seconds.

    Per-query numbers should measure the operators under test, not
    whichever first-touch cost the registry order happens to charge them:
    the derived event streams and silver frames are written tables in
    production, the shared near-dup artifacts too, the 128-permutation
    minhash expression takes seconds to compile on first use, and the
    first Pandas-UDF query would otherwise fork the Python workers."""
    from ecommerce_data_pipeline_spark.operators import dedup
    from ecommerce_data_pipeline_spark.sources import corpus
    from ecommerce_data_pipeline_spark.sources import events as ev
    from ecommerce_data_pipeline_spark.sources.parquet import load_table

    t0 = time.time()
    ev.enable_stream_cache(True)
    ev.orders_events(spark, sf_dir).count()
    ev.payments_events(spark, sf_dir).count()
    ev.silver_orders_frame(spark, sf_dir).count()
    ev.silver_payments_frame(spark, sf_dir).count()
    dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents").limit(64)).count()
    load_table(spark, sf_dir, "embeddings").limit(1).count()
    corpus.enable_corpus_cache(True)
    corpus.dedup_clusters_frame(spark, sf_dir).count()
    spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long").count()
    return round(time.time() - t0, 3)


def _error(exc: Exception) -> str:
    first_line = str(exc).split("\n", 1)[0]
    return f"{type(exc).__name__}: {first_line[:200]}"


def _timed(spark, fn, sf_dir: str) -> float:
    t = time.time()
    force(fn(spark, sf_dir))
    return round(time.time() - t, 3)


def rerun(spark, sf_dir: str, names, queries, timings: dict[str, float]) -> dict:
    """Re-run each named query solo, keep the faster time in ``timings``
    and return both times per query. A failed re-run keeps the first."""
    both: dict[str, list[float]] = {}
    for name in names:
        try:
            t2 = _timed(spark, queries[name], sf_dir)
        except Exception:  # noqa: BLE001 - keep the sweep's timing
            continue
        both[name] = [timings[name], t2]
        timings[name] = min(timings[name], t2)
    return both


def sf1_tier(spark, sf_dir: str, queries) -> dict:
    """Time SF1_TIER once each on a deterministic 10x replica of the input
    (tools/gen_sf1.py), rebuilt into a temp dir every run. At sf0.1 the
    sweep is scheduling-bound, so it cannot show data-path parallelism."""
    import shutil
    import tempfile

    from tools import gen_sf1

    sf1_dir = tempfile.mkdtemp(prefix="bench_sf1_")
    try:
        t_g = time.time()
        gen_sf1.generate_relational(sf1_dir, sf_dir, with_documents=False)
        gen_sec = round(time.time() - t_g, 3)
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for name in [n for n in SF1_TIER if n in queries]:
            spark.sparkContext.setJobDescription(f"sf1:{name}")
            try:
                timings[name] = _timed(spark, queries[name], sf1_dir)
            except Exception as exc:  # noqa: BLE001
                errors[name] = _error(exc)
        spark.sparkContext.setJobDescription(None)
        return {
            "total": round(sum(timings.values()), 3),
            "queries": timings,
            "errors": errors,
            "gen_sec": gen_sec,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        }
    except Exception as exc:  # noqa: BLE001 - the tier must never sink the bench
        return {"error": _error(exc)}
    finally:
        shutil.rmtree(sf1_dir, ignore_errors=True)


def pipeline_anchor(spark, sf_dir: str) -> tuple[float, list[float]]:
    """Like-for-like numbers against BASELINE.md's dbt anchor (an
    incremental gold MERGE, 0.551 s): build a lakehouse with the full batch
    medallion, then run the incremental gold MERGE + quality gate twice.
    The second run re-MERGEs the same window, identical work idempotent by
    key. Returns (full build sec, [gold run sec, gold run sec])."""
    import shutil
    import tempfile

    from ecommerce_data_pipeline_spark import pipeline as pl
    from ecommerce_data_pipeline_spark.sources.events import (
        orders_events,
        payments_events,
    )

    root = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        lake = pl.Lakehouse(root, partition_silver=False)
        t0 = time.time()
        pl.run_all(
            spark, lake, orders_events(spark, sf_dir), payments_events(spark, sf_dir)
        )
        full_build = round(time.time() - t0, 3)
        gold_runs = []
        for _ in range(2):
            t0 = time.time()
            pl.run_gold(spark, lake)
            gold_runs.append(round(time.time() - t0, 3))
        return full_build, gold_runs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    from ecommerce_data_pipeline_spark.queries import QUERIES
    from ecommerce_data_pipeline_spark.queries import streaming_q
    from ecommerce_data_pipeline_spark.session import default_parallelism, get_spark

    cpus = default_parallelism()
    report_name = baseline_name(sf, cpus)
    try:
        with open(os.path.join(HERE, report_name)) as fh:
            baseline = json.load(fh).get("queries") or {}
    except (OSError, json.JSONDecodeError):
        baseline = {}

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    setup = warm(spark, sf_dir)

    # Per-query error isolation: one broken query must never zero out the
    # run's signal. Failures are reported per query instead.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in QUERIES.items():
        try:
            timings[name] = _timed(spark, fn, sf_dir)
        except Exception as exc:  # noqa: BLE001 - bench must survive anything
            errors[name] = _error(exc)

    # One solo re-run for the heavy tier and for every suspected regression
    # (whichever query runs first pays one-time codegen compile).
    suspects = sorted(
        q
        for q, t in timings.items()
        if t >= HEAVY_SEC or is_regression(t, baseline.get(q))
    )
    reruns = rerun(spark, sf_dir, suspects, QUERIES, timings)
    flagged = regressions(timings, baseline)
    total = round(sum(timings.values()), 3)

    sf1_heavy = None
    if os.environ.get("SPARK_GRAFT_SF1_TIER", "1") == "1":
        sf1_heavy = sf1_tier(spark, sf_dir, QUERIES)

    # The streaming query's elapsed time is mostly micro-batch trigger
    # machinery, not compute: report the split.
    streaming_phases = dict(streaming_q.STREAMING_PHASES)

    full_build, gold_runs = None, []
    try:
        full_build, gold_runs = pipeline_anchor(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors["__pipeline__"] = _error(exc)
    # The dbt anchor is single-shot, so the first run is surfaced too; the
    # best of two is the warm steady state.
    gold_incremental = min(gold_runs) if gold_runs else None
    gold_first = gold_runs[0] if gold_runs else None

    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors,
        "setup_sec": setup,
        "pipeline_full_build_sec": full_build,
        "gold_incremental_merge_sec": gold_incremental,
        "gold_incremental_first_run_sec": gold_first,
        "streaming_fct_phases": streaming_phases,
        "sf1_heavy": sf1_heavy,
    }
    full_report = {
        **summary,
        "queries": timings,
        "gold_incremental_runs": gold_runs,
        "reruns": reruns,
        "regressions": flagged,
        "regression_gate": {
            "baseline": report_name if baseline else None,
            "ratio_threshold": RATIO_THRESHOLD,
            "min_prev_sec": MIN_PREV_SEC,
            "min_abs_delta_sec": MIN_ABS_DELTA_SEC,
        },
        "delta_vs_baseline": {
            q: round(t - baseline[q], 3) for q, t in timings.items() if q in baseline
        },
    }
    try:
        with open(os.path.join(HERE, report_name), "w") as fh:
            json.dump(full_report, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    # The stdout tail a caller keeps is bounded, so the line carries the
    # ten slowest queries; the complete map is in the report file.
    slowest = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10])
    print(
        json.dumps(
            {
                **summary,
                "queries": slowest,
                "regressions": flagged[:10],
                "queries_full": report_name,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
