"""Medallion benchmark: one workload per process, driven by a seed.

    python3 medbench/run.py --workload microbatch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is an
``{"info": ...}`` object with the host, versions, input properties and raw
samples. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from Spark's event log (see README.md).

The program is timed only through its public functions
(``streaming.run_streaming_pipeline`` with its ``phases`` dict,
``lake.ParquetTable`` methods, ``queries.QUERIES``). Every input is
generated under one temp root inside the working directory, which also
holds the lakehouses, checkpoints, Spark scratch space and event logs, and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the program and tools/

import gen  # noqa: E402
import tracing  # noqa: E402

T_START = time.time()
# Below the 180 s a run may take, leaving room for the session to stop.
RUN_BUDGET_S = 140
CPUS = len(os.sched_getaffinity(0))
# session.py defaults to 16g, more than a 15 GiB host has.
DRIVER_MEM = "3g"

# microbatch: a 20k-order base over the last 24 h, then 1k-order batches at
# the same order rate (72 min of stream each), so the 2 h lookbacks hold the
# same amount of data on every cycle.
BASE_ORDERS = 20_000
BATCH_ORDERS = 1_000
BATCH_SPAN_S = 72 * 60
LATE_SHARE, LATE_MAX_S = 0.10, 90 * 60
# Half the redeliveries of one topic per batch (alternating) are records of
# earlier batches: that topic's silver MERGE rewrites matched keys, the
# other's takes the insert-only append path.
REDELIVERY_SHARE, OLD_REDELIVERY_SHARE = 0.05, 0.5

# corpus: 1k documents, because the DuckDB oracles of the two near-dup
# queries are all-pairs joins whose cost grows with the square.
# minhash_lsh_pairs and dedup_clusters (built on it) are left out: they miss
# near-duplicate pairs on some seeds (see README.md), so the pass could not
# be checked. ngram_jaccard_pairs runs the same MinHash/LSH operator.
CORPUS_QUERIES = ("ngram_jaccard_pairs", "simhash_pairs", "ivf_pq_topk", "kmeans_ivf_topk")
N_DOCS, NEAR_DUP_SHARE, N_VECTORS = 1_000, 0.10, 2_000


def start_session(tmp: str, event_log: str | None = None):
    from ecommerce_data_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed set of JIT compiler threads, whose CPU cpu_since() can count
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark("medbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job pays the executor start
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def tree_cpu_s() -> tuple[float, float]:
    """(all, JIT compiler) user+system CPU seconds of this process and its
    descendants (the driver JVM and its Python workers), reaped children
    included. The kernel leaves time stolen by a hypervisor out of these
    counters, so they hold steadier than wall time on a shared host."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick
    me, total, jit = os.getpid(), 0.0, 0.0
    for pid, c in cpu.items():
        p = pid
        while p != me and p in parent:
            p = parent[p]
        if p == me:
            total += c
            jit += _jit_cpu_s(pid, tick)
    return total, jit


def _jit_cpu_s(pid: int, tick: int) -> float:
    """CPU seconds of the JVM's compiler threads in process ``pid``. The
    session pins their number, so none exits and takes its time along."""
    out = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0  # exited while listing
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            f = stat[stat.rindex(")") + 2:].split()
            out += (int(f[11]) + int(f[12])) / tick
    return out


def cpu_since(start: tuple[float, float]) -> tuple[float, float]:
    """(CPU seconds outside the JIT compiler, JIT compiler CPU seconds)
    since ``start``, a ``tree_cpu_s()`` reading."""
    total, jit = tree_cpu_s()
    return total - start[0] - (jit - start[1]), jit - start[1]


class Checks:
    """Operations and correctness checks attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def tree_files(root: str) -> dict[str, int]:
    """{path: bytes} of the data files under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class LakeProbe:
    """Benchmark-side wrappers of ``ParquetTable.merge``/``overwrite`` for
    the traced run: a span per call, and whether a merge took the
    insert-only append path (every file of the table survived it)."""

    def __init__(self, tracer: tracing.Tracer):
        from ecommerce_data_pipeline_spark.lake import ParquetTable

        self.cls = ParquetTable
        self.orig = (ParquetTable.merge, ParquetTable.overwrite)
        self.merges = 0
        self.appends = 0
        # the two silver streams merge from their own callback threads
        lock = threading.Lock()
        orig_merge, orig_overwrite = self.orig
        probe = self

        def merge(table, *args, **kwargs):
            before = set(tree_files(table.path))
            with tracer.span("lake.merge"):
                out = orig_merge(table, *args, **kwargs)
            appended = bool(before) and before <= set(tree_files(table.path))
            with lock:
                probe.merges += 1
                probe.appends += appended
            return out

        def overwrite(table, *args, **kwargs):
            with tracer.span("lake.overwrite"):
                return orig_overwrite(table, *args, **kwargs)

        ParquetTable.merge, ParquetTable.overwrite = merge, overwrite

    def close(self) -> None:
        self.cls.merge, self.cls.overwrite = self.orig


def fact_mismatches(spark, lake, want: dict[int, tuple[int, int]]) -> list[int]:
    """Minutes where gold ``fct_sales_minute`` differs from ``want``
    ({minute epoch s: (gmv cents, paid_orders)})."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark.functions import epoch_seconds

    rows = (
        lake.fct_sales_minute.read(spark)
        .select(
            epoch_seconds("minute_bucket").alias("m"),
            F.round(F.col("gmv") * 100).cast("long").alias("cents"),
            "paid_orders",
        )
        .collect()
    )
    got = {int(r.m): (int(r.cents), int(r.paid_orders)) for r in rows}
    return sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))


def oracle_diffs(spark, sf_dir: str, names) -> dict[str, tuple[bool, str]]:
    """{query: (equal to its DuckDB oracle, rows got vs wanted)} over the
    tables in ``sf_dir``."""
    import duckdb

    from ecommerce_data_pipeline_spark.queries import ORACLES, QUERIES
    from tools.verify_correctness import dtype_mismatches, normalize

    out = {}
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in names:
            got = QUERIES[q](spark, sf_dir).toPandas()
            want = con.execute(ORACLES[q]).fetchdf()
            same = (
                sorted(got.columns) == sorted(want.columns)
                and dtype_mismatches(got, want) == ([], [])
                and normalize(got) == normalize(want)
            )
            out[q] = (same, f"{len(got)} vs {len(want)} rows")
    finally:
        con.close()
    return out


# -- workloads ----------------------------------------------------------------


class Microbatch:
    """A streamed base lakehouse, then small batches drained on the same
    checkpoints; one op = one cycle, its latency the batch's freshness."""

    op_s = 10  # nominal seconds per op on a 4-core host

    def __init__(self, seed: int, tmp: str):
        self.tmp = tmp
        self.stream = gen.EventStream(seed)
        self.src = {t: os.path.join(tmp, "src", t) for t in ("orders", "payments")}
        orders, payments = self.stream.batch(
            BASE_ORDERS, gen.BASE_END_S - gen.DAY_S, gen.BASE_END_S,
            redelivery_share=REDELIVERY_SHARE,
        )
        gen.write_split(orders, self.src["orders"], "base", 4)
        gen.write_split(payments, self.src["payments"], "base", 4)
        self.head = gen.BASE_END_S
        self.n_batches = 0
        self.lake = None
        self.write_bytes: list[float] = []
        self.files_written: list[int] = []
        self.in_bytes: list[int] = []
        self.phases: list[dict] = []

    def _drain(self, spark, tracer=None) -> dict:
        from ecommerce_data_pipeline_spark.streaming.medallion import run_streaming_pipeline

        phases: dict = {}
        t0 = time.time()
        run_streaming_pipeline(
            spark, self.lake, self.src["orders"], self.src["payments"],
            self.schemas[0], self.schemas[1], os.path.join(self.tmp, "checkpoints"),
            phases=phases,
        )
        t1 = time.time()
        if tracer is not None:
            bronze_end = t0 + phases["bronze_drain_sec"]
            enrich_start = t1 - phases["gold_sec"] - phases["enrich_sec"]
            tracer.add("streaming.bronze_drain", t0, bronze_end)
            tracer.add("streaming.silver_drain", bronze_end, t0 + phases["chains_wall_sec"])
            tracer.add("streaming.enrich", enrich_start, enrich_start + phases["enrich_sec"])
            tracer.add("streaming.gold", t1 - phases["gold_sec"], t1)
        return phases

    def bootstrap(self, spark) -> None:
        from ecommerce_data_pipeline_spark.pipeline import Lakehouse

        self.lake = Lakehouse(os.path.join(self.tmp, "lakehouse"), partition_silver=True)
        self.schemas = [spark.read.parquet(self.src[t]).schema for t in ("orders", "payments")]
        self._drain(spark)

    def warmup(self, spark, checks: Checks) -> None:
        """One untimed cycle on the bootstrapped lakehouse."""
        self.op(spark)
        self.check(spark, checks)

    def op(self, spark, tracer=None) -> tuple[float, float, float]:
        orders, payments = self.stream.batch(
            BATCH_ORDERS, self.head, self.head + BATCH_SPAN_S,
            late_share=LATE_SHARE, late_max_s=LATE_MAX_S,
            redelivery_share=REDELIVERY_SHARE,
            old_redelivery={(gen.ORDERS_TOPIC, gen.PAYMENTS_TOPIC)[self.n_batches % 2]:
                            OLD_REDELIVERY_SHARE},
        )
        self.head += BATCH_SPAN_S
        self.n_batches += 1
        before = tree_files(self.lake.root) if tracer is not None else None
        name = f"batch-{self.n_batches:04d}.parquet"
        size = gen.write_parquet(orders, os.path.join(self.src["orders"], name))
        size += gen.write_parquet(payments, os.path.join(self.src["payments"], name))
        stamp, cpu0 = time.time(), tree_cpu_s()  # the batch has landed
        self.phases.append(self._drain(spark, tracer))
        freshness, (cpu, jit) = time.time() - stamp, cpu_since(cpu0)
        if before is not None:
            new = {p: b for p, b in tree_files(self.lake.root).items() if p not in before}
            self.in_bytes.append(size)
            self.write_bytes.append(sum(new.values()))
            self.files_written.append(len(new))
        return freshness, cpu, jit

    def check(self, spark, checks: Checks) -> None:
        want = self.stream.expected_fact()
        bad = fact_mismatches(spark, self.lake, want)
        checks.record(
            not bad,
            f"fct_sales_minute after batch {self.n_batches}: {len(bad)} of "
            f"{len(want)} minutes differ from the generator's fact, first {bad[:3]}",
        )

    def info(self) -> dict:
        keys = self.phases[0].keys() if self.phases else ()
        return {
            "inputs": self.stream.props,
            "batches": self.n_batches,
            "phases_median_s": {
                k: statistics.median(p[k] for p in self.phases) for k in keys
            },
        }


class Corpus:
    """Read-only pass over the LLM-data operators; one op = one pass of
    the four queries into the noop sink."""

    op_s = 12

    def __init__(self, seed: int, tmp: str):
        import pyarrow.parquet as pq

        self.sf_dir = os.path.join(tmp, "corpus")
        os.makedirs(self.sf_dir)
        docs, dprops = gen.documents(seed, N_DOCS, NEAR_DUP_SHARE)
        emb, eprops = gen.embeddings(seed, N_VECTORS)
        pq.write_table(docs, os.path.join(self.sf_dir, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.sf_dir, "embeddings.parquet"))
        self.props = {**dprops, **eprops}
        self.query_s: dict[str, list[float]] = {q: [] for q in CORPUS_QUERIES}

    def bootstrap(self, spark) -> None:
        from ecommerce_data_pipeline_spark.sources.parquet import load_table

        for t in ("documents", "embeddings"):
            load_table(spark, self.sf_dir, t)

    def op(self, spark, tracer=None) -> tuple[float, float, float]:
        from ecommerce_data_pipeline_spark.queries import QUERIES

        t_pass, cpu0 = time.time(), tree_cpu_s()
        for q in CORPUS_QUERIES:
            t0 = time.time()
            with tracer.span(f"query.{q}") if tracer else nullcontext():
                QUERIES[q](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            self.query_s[q].append(time.time() - t0)
        return (time.time() - t_pass, *cpu_since(cpu0))

    def warmup(self, spark, checks: Checks) -> None:
        """Untimed first pass, compared with the registry's DuckDB oracles."""
        for q, (same, what) in oracle_diffs(spark, self.sf_dir, CORPUS_QUERIES).items():
            checks.record(same, f"{q} differs from its DuckDB oracle ({what})")

    def check(self, spark, checks: Checks) -> None:
        pass  # the oracle comparison runs on the warm-up pass

    def info(self) -> dict:
        return {
            "inputs": self.props,
            "query_s": self.query_s,
        }


WORKLOADS = {"microbatch": Microbatch, "corpus": Corpus}


# -- measurement --------------------------------------------------------------


def measure(wl, spark, seconds: float, checks: Checks, tracer=None) -> list[tuple[float, float, float]]:
    """Closed loop, one client: run as many ops as fit in ``seconds`` at
    their nominal duration ``wl.op_s`` (at least one) back to back,
    checking outputs after each. The count never depends on how fast the
    host is, so every run measures the same ops at the same point of the
    JVM's warm-up. Returns each op's (latency s, CPU s outside the JIT
    compiler, JIT compiler CPU s)."""
    samples: list[tuple[float, float, float]] = []
    for _ in range(max(1, int(seconds // wl.op_s))):
        if samples and time.time() - T_START + 1.5 * samples[-1][0] > RUN_BUDGET_S:
            break  # stop early rather than overrun the run's time limit
        try:
            sample = wl.op(spark, tracer)
        except Exception as e:  # noqa: BLE001 - count it and go on
            traceback.print_exc()
            checks.record(False, f"{type(e).__name__}: {str(e)[:300]}")
            continue
        checks.record(True, "")
        samples.append(sample)
        wl.check(spark, checks)
    return samples


def versions(spark) -> dict:
    import pyspark

    return {
        "cpus": CPUS,
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def run(args, tmp: str) -> tuple[dict, dict, Checks]:
    import ecommerce_data_pipeline_spark  # noqa: F401 - fail fast without the program

    checks = Checks()
    t0 = time.time()
    wl = WORKLOADS[args.workload](args.seed, tmp)
    gen_s = time.time() - t0

    # Set-up is timed in CPU seconds, JIT included: on a shared host its
    # wall time moved with the host's load (see README.md).
    t0, cpu0 = time.time(), tree_cpu_s()
    spark = start_session(tmp)
    session_s = time.time() - t0
    try:
        wl.bootstrap(spark)
        setup_wall_s = time.time() - t0
        setup_s = sum(cpu_since(cpu0))
        wl.check(spark, checks)
        t0 = time.time()
        wl.warmup(spark, checks)
        info = {"workload": args.workload, "seed": args.seed, "gen_s": gen_s,
                "setup_s": setup_s, "setup_wall_s": setup_wall_s, "session_s": session_s,
                "warmup_s": time.time() - t0, **versions(spark)}
        if args.trace:
            metrics = traced(args, wl, spark, tmp, checks, info)
            spark = None  # traced() stopped it
        else:
            samples = measure(wl, spark, args.seconds, checks)
            info["samples_s"] = samples
            metrics = {
                "cpu_s": (statistics.median(s[1] for s in samples), "s"),
                "setup_s": (setup_s, "s"),
            }
    finally:
        if spark is not None:
            stop_session(spark)
    info.update(wl.info())
    return metrics, info, checks


def traced(args, wl, spark, tmp, checks, info) -> dict:
    """Half the time untraced; then, in a fresh context that logs events,
    one untimed op (the context's own warm-up) and the other half with
    spans and lake wrappers."""
    plain = measure(wl, spark, args.seconds / 2, checks)
    spark.stop()  # the gateway JVM stays up; the next context logs events
    log_dir = os.path.join(tmp, "eventlog")
    spark = start_session(tmp, event_log=log_dir)
    try:
        wl.op(spark)
        wl.check(spark, checks)
        tracer = tracing.Tracer(spark.sparkContext)
        probe = LakeProbe(tracer)
        try:
            samples = measure(wl, spark, args.seconds / 2, checks, tracer)
        finally:
            probe.close()
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    per = tracing.fold(tracer.spans, tracing.read_jobs(log), CPUS)
    ops = max(len(samples), 1)
    metrics: dict[str, tuple[float, str]] = {}
    units = {"s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
             "shuffle_mb": "MB", "driver_s": "s", "slot_util": "ratio"}
    for name in SPAN_NAMES:
        acc = per.get(name, dict.fromkeys(tracing.FIELDS, 0.0))
        for f in tracing.FIELDS:
            v = acc[f] if f == "slot_util" else acc[f] / ops
            metrics[f"{name}.{f}"] = (v, units[f])
    ws = getattr(wl, "write_bytes", [])
    metrics["lake.merge.append_share"] = (probe.appends / probe.merges if probe.merges else 0.0, "ratio")
    metrics["lake.write_amp"] = (sum(ws) / sum(wl.in_bytes) if ws else 0.0, "ratio")
    metrics["lake.files_written"] = (
        statistics.mean(wl.files_written) if ws else 0.0, "count")
    traced_s = statistics.median(s[0] for s in samples)
    plain_s = statistics.median(s[0] for s in plain)
    metrics["latency_s"] = (plain_s, "s")
    metrics["trace.latency_s"] = (traced_s, "s")
    metrics["trace.overhead_s"] = (traced_s - plain_s, "s")
    metrics["jit_cpu_s"] = (statistics.median(s[2] for s in plain), "s")
    metrics["setup_wall_s"] = (info["setup_wall_s"], "s")
    metrics["peak_rss_mb"] = (rss, "MB")
    metrics["error_rate"] = (checks.failed / max(checks.attempted, 1), "ratio")
    info.update({"untraced_samples_s": plain, "traced_samples_s": samples,
                 "spans": len(tracer.spans)})
    return metrics


SPAN_NAMES = (
    "streaming.bronze_drain",
    "streaming.silver_drain",
    "streaming.enrich",
    "streaming.gold",
    "lake.merge",
    "lake.overwrite",
    *(f"query.{q}" for q in CORPUS_QUERIES),
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".medbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        metrics, info, checks = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    info["failures"] = checks.notes
    print(json.dumps({"info": info}, default=str))
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
