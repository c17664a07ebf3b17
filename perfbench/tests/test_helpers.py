"""Tests for the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from measure import percentile_with_tail  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import blob_lags, split_stages  # noqa: E402

# --- lag from a checkpoint ---------------------------------------------------


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _entry(name, batch):
    return {"path": f"file:///landing/{name}", "timestamp": 0, "batchId": batch, "action": "add"}


def test_blob_lags_from_synthetic_checkpoint(tmp_path):
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    _write_log(src / "0", [_entry("a.csv", 0), _entry("b.csv", 0)])
    _write_log(src / "1", [_entry("c.csv", 1)])
    # a compaction rewrites every earlier entry next to the new batch's own
    _write_log(src / "2.compact", [_entry("a.csv", 0), _entry("b.csv", 0),
                                   _entry("c.csv", 1), _entry("d.csv", 2)])
    _write_log(src / "3", [_entry("e.csv", 3)])  # listed but never committed
    for batch, mtime in ((0, 1000.5), (1, 1002.0), (2, 1003.25)):
        (commits / str(batch)).write_text("v1\n{}\n")
        os.utime(commits / str(batch), (mtime, mtime))
    due = {"a.csv": 1000.0, "b.csv": 1000.25, "c.csv": 1001.0, "d.csv": 1003.0, "e.csv": 1003.5}
    lags = blob_lags(str(tmp_path), due)
    assert lags == pytest.approx({"a.csv": 0.5, "b.csv": 0.25, "c.csv": 1.0, "d.csv": 0.25})


def test_blob_lags_without_checkpoint(tmp_path):
    assert blob_lags(str(tmp_path / "missing"), {"a.csv": 1.0}) == {}


# --- the percentile rule -----------------------------------------------------


def test_p95_needs_ten_samples_beyond():
    assert percentile_with_tail(list(range(1, 201)), 0.95) == 190  # 10 beyond
    assert percentile_with_tail(list(range(1, 200)), 0.95) is None  # 9 beyond


def test_median_needs_ten_beyond_too():
    assert percentile_with_tail(list(range(20)), 0.5) == 9
    assert percentile_with_tail(list(range(19)), 0.5) is None
    assert percentile_with_tail([], 0.5) is None


def test_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
    assert percentile_with_tail(values, 0.5) == 3.0


# --- event-log roll-up ---------------------------------------------------------


def _task(stage, cpu_ns, run_ms, gc_ms, *, input_b=0, sw=0, out_b=0, sr=(0, 0), spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": input_b},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
            "Output Metrics": {"Bytes Written": out_b},
        },
    }


TWO_JOBS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s1"}},
    _task(0, 2_000_000, 3, 1, input_b=100, sw=40),
    _task(0, 4_000_000, 5, 0, input_b=50, sw=20),
    _task(1, 1_000_000, 2, 0, sr=(10, 50), out_b=70, spill=8),
    {"Event": "SparkListenerJobEnd", "Job ID": 0},
    # job 1 reuses stage 1 (skipped there) and adds stage 2; no job group
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [1, 2], "Properties": {}},
    _task(2, 3_000_000, 4, 2, input_b=150),
    {"Event": "SparkListenerJobEnd", "Job ID": 1},
]


def test_rollup_two_jobs_per_group():
    log = eventlog.rollup(TWO_JOBS)
    assert log["jobs"] == {0: {"group": "s1", "submit_ms": 1000}, 1: {"group": "", "submit_ms": 2000}}
    assert log["stages"][1]["job"] == 0  # first job that listed it
    groups = eventlog.by_group(log)
    s1 = groups["s1"]
    assert s1["jobs"] == 1 and s1["tasks"] == 3
    assert s1["cpu_ms"] == pytest.approx(7.0)
    assert (s1["run_ms"], s1["gc_ms"]) == (10, 1)
    assert (s1["input_bytes"], s1["shuffle_write_bytes"], s1["shuffle_read_bytes"]) == (150, 60, 60)
    assert (s1["output_bytes"], s1["spill_bytes"]) == (70, 8)
    assert groups[""]["tasks"] == 1 and groups[""]["input_bytes"] == 150


def _write_lines(path, events):
    with open(path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)


def test_rolling_layout_is_read_in_part_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # part 10 must sort after part 2, not between 1 and 2
    _write_lines(app / "events_1_local-1", TWO_JOBS[:3])
    _write_lines(app / "events_2_local-1", TWO_JOBS[3:6])
    _write_lines(app / "events_10_local-1", TWO_JOBS[6:])
    (app / "appstatus_local-1").write_text("")
    assert eventlog.find_app_logs(str(tmp_path)) == [str(app)]
    log = eventlog.rollup(eventlog.read_events(str(app)))
    assert eventlog.rollup(TWO_JOBS) == log


def test_single_file_layout(tmp_path):
    path = tmp_path / "local-1"
    _write_lines(path, TWO_JOBS)
    assert eventlog.rollup(eventlog.read_events(str(path))) == eventlog.rollup(TWO_JOBS)


def test_compressed_log_is_refused(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        list(eventlog.read_events(str(app)))


def test_split_stages_batch_and_stream_shapes():
    def st(job, **kw):
        return {"job": job, **dict.fromkeys(eventlog.METRICS, 0), **kw}

    # batch: scatter (job 0), write (job 1), manifest rescan (jobs 2, 3)
    batch = [st(0, shuffle_write_bytes=5), st(1, output_bytes=7),
             st(2, shuffle_write_bytes=1, input_bytes=9), st(3)]
    parts = split_stages(batch)
    assert [s["job"] for s in parts["map"]] == [0]
    assert [s["job"] for s in parts["write"]] == [1]
    assert [s["job"] for s in parts["extra"]] == [2, 3]
    # stream: empty-batch probe (job 0) before scatter and write
    stream = [st(0, input_bytes=3), st(1, shuffle_write_bytes=5), st(2, output_bytes=7)]
    parts = split_stages(stream)
    assert [s["job"] for s in parts["extra"]] == [0]
    assert [s["job"] for s in parts["map"]] == [1]


# --- spans -----------------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_spans_nest_and_set_job_groups():
    sc = _FakeContext()
    tr = Tracer(sc, enabled=True)
    with tr.span("pass", new_trace=True) as outer:
        with tr.span("read") as a:
            pass
        with tr.span("write") as b:
            pass
    assert a.parent_id == b.parent_id == outer.span_id
    assert a.trace_id == b.trace_id == outer.trace_id
    assert sc.groups == [outer.span_id, a.span_id, outer.span_id, b.span_id, outer.span_id, None]
    assert tr.self_time(outer) == pytest.approx(outer.duration - a.duration - b.duration)


def test_self_time_counts_overlapping_children_once():
    tr = Tracer(enabled=True)
    with tr.span("root") as root:
        pass
    root.start, root.end = 0.0, 10.0
    for lo, hi in ((1.0, 4.0), (3.0, 5.0), (7.0, 8.0)):
        with tr.span("child") as c:
            pass
        c.parent_id, c.start, c.end = root.span_id, lo, hi
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(_FakeContext(), enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_units_follow_metric_names():
    from run import unit_of

    assert unit_of("lag_p50_s") == "s"
    assert unit_of("stream.trigger_ms_p50") == "ms"
    assert unit_of("pinning.cached_mb_max") == "MB"
    assert unit_of("sink.bytes") == unit_of("prepartition.shuffle_bytes") == "B"
    assert unit_of("q.text_bpe.s") == "s"
    assert unit_of("sources.scans_per_pass") == unit_of("prepartition.pid_skew") == "ratio"
    assert unit_of("mb_per_s") == "MB/s" and unit_of("rate_per_s") == "1/s"
    assert unit_of("host.steal_pct") == "%"
    assert unit_of("stream.backlog_max") == unit_of("prepartition.jobs") == "count"


def test_process_tree_and_young_children():
    import subprocess

    from measure import process_tree, tree_rss_mb

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in process_tree(os.getpid())
        # a child younger than min_age_s is left out of the RSS sum
        young = tree_rss_mb(child.pid, min_age_s=60.0)
        counted = tree_rss_mb(child.pid, min_age_s=0.0)
        assert young == 0.0 < counted
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
