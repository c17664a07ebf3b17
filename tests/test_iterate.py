"""fixed_iterations: one job on one partition, one job per iteration
otherwise, the same state either way, and no cache left behind."""

import itertools

import pytest

from kusto_pre_forge_spark.operators.iterate import fixed_iterations

N_ITERS = 4
_groups = itertools.count()


def _toy():
    """(load, step, fold) of a toy estimator that moves halfway to the
    mean each iteration and counts its iterations. Built inside a
    function so the workers get them by value, not by module name."""

    def load(batches):
        return [float(x) for pdf in batches for x in pdf["x"]]

    def step(state, xs):
        # a task's (Σ(x − estimate), count); every value is a small
        # dyadic rational, so the sums are exact in any order
        est, _ = state
        return sum(x - est for x in xs), len(xs)

    def fold(state, partials):
        est, n = state
        total = sum(p[0] for p in partials)
        count = sum(p[1] for p in partials)
        return est + 0.5 * (total / count), n + 1

    return load, step, fold


def _frame(spark, parts):
    return spark.range(0, 32, 1, parts).selectExpr("cast(id as double) as x")


def _run(spark, frame, step=None):
    """(state, jobs run) of one fixed_iterations call under its own job group."""
    load, toy_step, fold = _toy()
    sc = spark.sparkContext
    group = f"kpf-iterate-{next(_groups)}"
    sc.setJobGroup(group, "fixed_iterations")
    try:
        state = fixed_iterations(frame, (0.0, 0), N_ITERS, load, step or toy_step, fold)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return state, len(sc.statusTracker().getJobIdsForGroup(group))


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_one_partition_runs_every_iteration_in_one_job(spark):
    before = _persisted(spark)
    state, jobs = _run(spark, _frame(spark, 1))
    assert jobs == 1
    est = 0.0
    for _ in range(N_ITERS):
        est += 0.5 * (15.5 - est)
    assert state == (est, N_ITERS)
    assert _persisted(spark) == before


def test_many_partitions_run_one_job_per_iteration_same_state(spark):
    before = _persisted(spark)
    one, _ = _run(spark, _frame(spark, 1))
    state, jobs = _run(spark, _frame(spark, 3))
    assert jobs == N_ITERS
    assert state == one
    assert _persisted(spark) == before


def test_failing_step_leaves_no_cache(spark):
    # only the many-partition path persists, so only it can leak
    def boom(state, xs):
        raise ValueError("step failed")

    before = _persisted(spark)
    with pytest.raises(Exception, match="step failed"):
        _run(spark, _frame(spark, 3), step=boom)
    assert _persisted(spark) == before
