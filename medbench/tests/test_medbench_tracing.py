"""The event-log fold pins job and task counts on tiny jobs in two spans."""

import os

import pytest

import run
import tracing


@pytest.fixture()
def traced(tmp_path):
    log_dir = os.path.join(tmp_path, "eventlog")
    spark = run.start_session(str(tmp_path), event_log=log_dir)
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    with tracer.span("a"):
        sc.parallelize(range(10), 2).count()
    with tracer.span("b"):
        with tracer.span("b.inner"):
            sc.parallelize(range(10), 3).map(lambda x: (x % 2, x)).reduceByKey(
                lambda x, y: x + y, 3
            ).collect()
    tracer.add("both", tracer.spans[0].t0, tracer.spans[-1].t1)
    spark.stop()
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    return tracing.fold(tracer.spans, tracing.read_jobs(log), cores=2)


def test_fold_counts_jobs_and_tasks_per_span(traced):
    assert (traced["a"]["jobs"], traced["a"]["tasks"]) == (1, 2)
    assert traced["a"]["shuffle_mb"] == 0
    # one job, a 3-task map stage and a 3-task reduce stage
    assert (traced["b.inner"]["jobs"], traced["b.inner"]["tasks"]) == (1, 6)
    assert traced["b.inner"]["shuffle_mb"] > 0
    # the outer span includes its nested span's job
    assert (traced["b"]["jobs"], traced["b"]["tasks"]) == (1, 6)
    # an interval span owns every job submitted inside it
    assert (traced["both"]["jobs"], traced["both"]["tasks"]) == (2, 8)
    for acc in traced.values():
        assert acc["cpu_s"] > 0
        assert 0 <= acc["driver_s"] <= acc["s"]
        assert 0 < acc["slot_util"]


def test_covered_merges_overlapping_intervals():
    assert tracing._covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._covered([]) == 0


def test_tree_cpu_counts_this_process():
    before = run.tree_cpu_s()
    t_end = run.time.process_time() + 0.3
    while run.time.process_time() < t_end:
        pass
    cpu, jit = run.cpu_since(before)
    assert cpu >= 0.2
    assert jit >= 0
