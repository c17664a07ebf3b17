"""PrePartition pipeline properties (SURVEY §5 pipeline properties a+b).

(a) completeness — union of all partition outputs row-equals the input;
(b) purity — every record in partition p satisfies hash(key) == p.
"""

import pytest
from pyspark.sql import functions as F

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash
from kusto_pre_forge_spark.plans.prepartition import (
    PID_COL,
    partition_samples,
    prepartition,
    run_prepartition,
)

POLICY = PartitionPolicy(column_name="o_orderpriority", max_partition_count=8, seed=42)


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/orders.parquet")


def test_purity_and_range(orders):
    df = prepartition(orders, POLICY)
    bad = df.filter(
        (F.col(PID_COL) < 0)
        | (F.col(PID_COL) >= POLICY.max_partition_count)
        | (F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    )
    assert bad.count() == 0


def test_samples_one_per_pid(orders):
    df = prepartition(orders, POLICY)
    samples = partition_samples(df, POLICY).collect()
    pids = [r[PID_COL] for r in samples]
    assert len(pids) == len(set(pids))
    total = sum(r.record_count for r in samples)
    assert total == orders.count()
    for r in samples:
        assert r.partition_value_sample is not None


def test_end_to_end_completeness(spark, orders, tmp_path):
    out = str(tmp_path / "pp_out")
    res = run_prepartition(orders, POLICY, out)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # round-trip rows identical (ignoring the added pid partition column)
    cols = orders.columns
    assert back.select(cols).exceptAll(orders).count() == 0
    assert orders.exceptAll(back.select(cols)).count() == 0
    # purity holds on the files as written
    reread_bad = back.filter(F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 8, 42))
    assert reread_bad.count() == 0
    assert sum(m["record_count"] for m in res.manifest) == orders.count()


def test_parallel_writers_complete_and_bounded(spark, sf_smoke, tmp_path):
    """Salted scatter: same rows, same purity, ~writers files per pid."""
    import glob

    from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    pol = PartitionPolicy("o_orderpriority", 4, 42)
    out = str(tmp_path / "pp")
    res = run_prepartition(orders, pol, out, writers_per_partition=4)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    bad = back.filter(
        F.col(PID_COL) != kusto_preforge_hash("o_orderpriority", 4, 42)
    )
    assert bad.count() == 0
    for d in glob.glob(f"{out}/{PID_COL}=*"):
        files = [f for f in glob.glob(f"{d}/*") if not f.endswith("_SUCCESS")]
        assert 1 <= len(files) <= 4 + 1
    assert sum(r["record_count"] for r in res.manifest) == orders.count()


def test_round_robin_staging_dirs(spark, orders, tmp_path):
    """Multi-staging-dir spread (PartitionedContentSink.cs:54-65): pid p
    lands under staging[p % k], union of roots is complete, manifest
    records the assignment."""
    import glob
    import os

    staging = [str(tmp_path / f"stage{i}") for i in range(3)]
    res = run_prepartition(orders, POLICY, staging)
    assert res.staging_paths == staging

    seen_pids = set()
    for i, root in enumerate(staging):
        for d in glob.glob(os.path.join(root, f"{PID_COL}=*")):
            pid = int(d.rsplit("=", 1)[1])
            assert pid % 3 == i, f"pid {pid} must round-robin to stage{pid % 3}"
            seen_pids.add(pid)
    assert seen_pids == {m[PID_COL] for m in res.manifest}
    for m in res.manifest:
        assert m["staging_dir"] == staging[m[PID_COL] % 3]
    # no temp root left behind
    assert not glob.glob(str(tmp_path / "*__kpf_staging_tmp__*"))

    populated = [root for root in staging if glob.glob(os.path.join(root, "*"))]
    assert len(populated) >= 2, "expected pids spread over multiple roots"
    total = sum(spark.read.parquet(root).count() for root in populated)
    assert total == orders.count()


def test_round_robin_staging_file_uris(spark, orders, tmp_path):
    """Same spread through explicit file: URIs — exercises the Hadoop
    FileSystem rename path (scheme-resolved fs, not driver-local
    os/shutil), the shape an object-store deployment takes."""
    import glob
    import os

    staging = [f"file:{tmp_path}/ustage{i}" for i in range(2)]
    res = run_prepartition(orders, POLICY, staging)
    assert res.staging_paths == staging

    populated = []
    for i in range(2):
        root = f"{tmp_path}/ustage{i}"
        for d in glob.glob(os.path.join(root, f"{PID_COL}=*")):
            pid = int(d.rsplit("=", 1)[1])
            assert pid % 2 == i
        if glob.glob(os.path.join(root, "*")):
            populated.append(f"file:{root}")
    assert not glob.glob(str(tmp_path / "*__kpf_staging_tmp__*"))
    assert populated
    total = sum(spark.read.parquet(root).count() for root in populated)
    assert total == orders.count()


def test_journal_counters(spark, orders, tmp_path):
    """PerfCounterJournal analogue: plans feed named counters; the journal
    drains, sums by name, and reports in the reference's format."""
    from kusto_pre_forge_spark.journal import PerfJournal

    lines_out = []
    j = PerfJournal(delay_seconds=0.05, sink=lines_out.append)
    res = run_prepartition(orders, POLICY, str(tmp_path / "ppj"), perf_journal=j)
    assert res.journal["PrePartition.RecordCount"] == orders.count()
    assert res.journal["PrePartition.PartitionCount"] == len(res.manifest)
    assert j.snapshot() == res.journal

    j.report_counters()
    assert any(line.startswith("PrePartition.RecordCount:  ") for line in lines_out)
    # report drains: a second report with no new readings prints nothing
    n = len(lines_out)
    j.report_counters()
    assert len(lines_out) == n

    # background loop picks up later readings
    j.start_reporting()
    j.add_reading("Test.Counter", 41)
    j.add_reading("Test.Counter", 1)
    import time

    time.sleep(0.3)
    j.stop_reporting()
    assert "Test.Counter:  42" in lines_out
    assert j.snapshot()["Test.Counter"] == 42


def _manifest_rows(rows):
    return sorted(
        (r[PID_COL], r["partition_value_sample"], r["record_count"]) for r in rows
    )


@pytest.mark.parametrize("n_roots", [1, 3])
def test_manifest_describes_written_output(spark, orders, tmp_path, n_roots):
    """The manifest aggregates what was written, not a rescan of the
    input: with a key drawn anew on every evaluation, a rescan's samples
    and counts would describe rows that were never written. (``uuid()``
    is seeded once per plan, so a rescan repeats it; a nondeterministic
    UDF does not.)"""
    import glob
    import uuid

    draw = F.udf(lambda: uuid.uuid4().hex, "string").asNondeterministic()
    keyed = orders.withColumn("k", draw())
    pol = PartitionPolicy("k", 8, 42)
    roots = [str(tmp_path / f"root{i}") for i in range(n_roots)]
    res = run_prepartition(keyed, pol, roots[0] if n_roots == 1 else roots)

    written = [r for r in roots if glob.glob(f"{r}/{PID_COL}=*")]
    back = spark.read.parquet(written[0])
    for root in written[1:]:
        back = back.unionByName(spark.read.parquet(root))
    assert _manifest_rows(res.manifest) == _manifest_rows(
        partition_samples(back, pol).collect()
    )
    assert res.journal["PrePartition.RecordCount"] == orders.count()


@pytest.mark.parametrize("n_roots", [1, 3])
def test_empty_input(spark, orders, tmp_path, n_roots):
    """A schema with no rows gives an empty manifest and zero counters."""
    from kusto_pre_forge_spark.journal import PerfJournal

    empty = spark.createDataFrame([], orders.schema)
    roots = [str(tmp_path / f"root{i}") for i in range(n_roots)]
    j = PerfJournal(delay_seconds=0.05, sink=lambda line: None)
    res = run_prepartition(
        empty, POLICY, roots[0] if n_roots == 1 else roots, perf_journal=j
    )
    assert res.manifest == []
    assert res.journal == {
        "PrePartition.RecordCount": 0,
        "PrePartition.PartitionCount": 0,
    }
    assert j.snapshot() == res.journal


def test_scatter_sized_to_task_slots(spark, orders, tmp_path):
    """With more pids than task slots, no stage of the batch or the
    streaming PrePartition runs more tasks than ``defaultParallelism``,
    and each pid (or (pid, batch)) directory holds exactly one file."""
    import glob

    from kusto_pre_forge_spark.streaming import StreamingEtl

    sc = spark.sparkContext
    slots = sc.defaultParallelism
    pol = PartitionPolicy("o_orderpriority", 4 * slots, 42)
    one_task_input = orders.coalesce(1)
    out, out_stream = str(tmp_path / "batch"), str(tmp_path / "stream")
    etl = StreamingEtl(
        spark, str(tmp_path / "land"), str(tmp_path / "ckpt"), out_stream, orders.schema
    )
    runs = {
        "batch": lambda: run_prepartition(one_task_input, pol, out),
        "stream": lambda: etl.prepartition_batch(one_task_input, 0, pol),
    }
    tracker = sc.statusTracker()
    for name, run in runs.items():
        group = f"kpf-scatter-slots-{name}-{tmp_path.name}"
        sc.setJobGroup(group, name)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stage_tasks = {
            sid: tracker.getStageInfo(sid).numTasks
            for jid in tracker.getJobIdsForGroup(group)
            for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None
        }
        assert stage_tasks, name
        assert max(stage_tasks.values()) <= slots, (name, stage_tasks)

    for pattern in (f"{out}/{PID_COL}=*", f"{out_stream}/{PID_COL}=*/_kpf_batch=*"):
        dirs = glob.glob(pattern)
        assert dirs, pattern
        for d in dirs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    assert spark.read.parquet(out).count() == orders.count()
    assert spark.read.parquet(out_stream).count() == orders.count()
