"""The benchmark's workloads.

Each workload drives the engine through its public API, checks every
output, and reports end-to-end metrics (always) and per-layer metrics
(from spans and the event-log roll-up, in a traced run). The life of one
run is ``prepare`` (input generation and oracles: harness cost, before
the session exists), ``warm`` (part of ``setup_s``), ``measure`` (the
timed loop), ``finish`` (stop what ``warm`` started) and the two metric
methods.
"""

from __future__ import annotations

import glob
import gzip
import json
import math
import os
import time
from dataclasses import dataclass, field
from statistics import median

import duckdb

import eventlog
from measure import percentile_with_tail, tree_cpu_s
from spans import Tracer

LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
)
ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)
PID_COUNT = 64


@dataclass
class Context:
    sf_dir: str
    work: str
    seed: int
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def duckdb(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute(f"SET temp_directory = '{self.path('tmp')}'")
        con.execute("SET autoinstall_known_extensions = false")
        return con


def policy_seed(seed: int) -> int:
    """The hash seed of the partition policy, derived from the run seed."""
    return seed % 65_536


def split_stages(stages: list[dict]) -> dict[str, list[dict]]:
    """Sort one plan call's stages into the scatter, the write and the rest.

    ``write``: stages that wrote output files. ``map``: stages that wrote
    shuffle data in a job up to the last writing job (parse, hash and
    shuffle write). ``extra``: everything else, i.e. work done beyond
    scatter and write: the manifest rescan after the batch write, or the
    empty-batch probe before a streaming write.
    """
    writing_jobs = [st["job"] for st in stages if st["output_bytes"] > 0]
    last_write = max(writing_jobs) if writing_jobs else -1
    out: dict[str, list[dict]] = {"map": [], "write": [], "extra": []}
    for st in stages:
        if st["output_bytes"] > 0:
            out["write"].append(st)
        elif st["job"] is not None and st["job"] <= last_write and st["shuffle_write_bytes"] > 0:
            out["map"].append(st)
        else:
            out["extra"].append(st)
    return out


def plan_layer(stages: list[dict]) -> dict[str, float]:
    """Per-call ``prepartition.*`` and ``sources.input_bytes`` figures."""
    parts = split_stages(stages)
    all_ = eventlog.totals(stages)
    return {
        "prepartition.jobs": len({st["job"] for st in stages}),
        "prepartition.tasks": all_["tasks"],
        "prepartition.reduce_tasks": eventlog.totals(parts["write"])["tasks"],
        "prepartition.map_cpu_ms": eventlog.totals(parts["map"])["cpu_ms"],
        "prepartition.write_cpu_ms": eventlog.totals(parts["write"])["cpu_ms"],
        "prepartition.extra_cpu_ms": eventlog.totals(parts["extra"])["cpu_ms"],
        "prepartition.shuffle_bytes": all_["shuffle_write_bytes"],
        "prepartition.gc_ms": all_["gc_ms"],
        "prepartition.spill_bytes": all_["spill_bytes"],
        "sources.input_bytes": all_["input_bytes"],
    }


def pid_skew(con: duckdb.DuckDBPyConnection, out_dir: str) -> float:
    """Rows in the fullest partition over the mean rows per used partition."""
    (skew,) = con.execute(
        "SELECT max(c) / avg(c) FROM (SELECT _kpf_pid, count(*) AS c FROM "
        f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true) GROUP BY 1)"
    ).fetchone()
    return skew


def sink_layer(out_dir: str) -> dict[str, float]:
    """Files and bytes of the partitioned output, and how the pids spread."""
    files, size = 0, 0
    pids = set()
    for root, _, names in os.walk(out_dir):
        pid = next((p[9:] for p in root.split(os.sep) if p.startswith("_kpf_pid=")), None)
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
                pids.add(pid)
    return {
        "sink.files": files,
        "sink.bytes": size,
        "sink.files_per_pid": files / max(1, len(pids)),
        "prepartition.pids_used": len(pids),
    }


def pid_check_sql(out_dir: str, key: str, seed: int) -> str:
    """DuckDB query counting the output rows whose ``_kpf_pid`` differs
    from the reference hash of ``key`` (``functions.hashing``)."""
    from kusto_pre_forge_spark.functions.hashing import duckdb_hash_sql

    expected = duckdb_hash_sql(f"CAST({key} AS VARCHAR)", PID_COUNT, policy_seed(seed))
    return (
        f"SELECT count(*) FILTER (WHERE _kpf_pid <> {expected}) "
        f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"
    )


class PrepartitionGz:
    """Closed loop, one caller: whole PrePartition passes over gzip CSV blobs."""

    name = "prepartition_gz"
    blobs = 8
    #: C2 is still compiling the scan, hash and write paths in the second
    #: pass; the median of the timed passes absorbs what is left
    warm_passes = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.landing = ctx.path("landing")
        self.out = ctx.path("out")
        self.passes: list[dict] = []
        self.failures: list[str] = []

    def prepare(self, seconds: float) -> None:
        os.makedirs(self.landing)
        con = self.ctx.duckdb()
        con.execute(
            f"CREATE TABLE li AS SELECT *, hash(file_row_number, {self.ctx.seed}) % {self.blobs} AS blob "
            f"FROM read_parquet('{self.ctx.sf_dir}/lineitem.parquet', file_row_number = true)"
        )
        for b in range(self.blobs):
            con.execute(
                f"COPY (SELECT * EXCLUDE (blob, file_row_number) FROM li WHERE blob = {b} "
                f"ORDER BY file_row_number) TO '{self.landing}/lineitem-{b:02d}.csv.gz' "
                "(HEADER, COMPRESSION gzip)"
            )
        self.rows, self.checksum = con.execute(
            "SELECT count(*), bit_xor(hash(l_orderkey, l_linenumber)) FROM li"
        ).fetchone()
        con.close()
        self.landing_bytes = 0
        self.raw_bytes = 0
        for path in glob.glob(f"{self.landing}/*.csv.gz"):
            self.landing_bytes += os.path.getsize(path)
            with gzip.open(path, "rb") as f:
                while chunk := f.read(1 << 20):
                    self.raw_bytes += len(chunk)

    def _pass(self) -> dict:
        from kusto_pre_forge_spark.catalog import PartitionPolicy
        from kusto_pre_forge_spark.config import DataFormat, RunSettings
        from kusto_pre_forge_spark.plans.prepartition import run_prepartition
        from kusto_pre_forge_spark.sources.blob import list_source, read_landing

        spark, tr = self.ctx.spark, self.ctx.tracer
        policy = PartitionPolicy("l_orderkey", PID_COUNT, policy_seed(self.ctx.seed))
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("pass", new_trace=True) as span:
            with tr.span("sources.list_source"):
                paths = list_source(spark, f"{self.landing}/lineitem-", ".csv.gz")
            with tr.span("sources.read_landing"):
                df = read_landing(spark, paths, RunSettings(fmt=DataFormat.CSV), schema=LINEITEM_DDL)
            with tr.span("plans.run_prepartition"):
                res = run_prepartition(df, policy, self.out)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        spark.catalog.clearCache()
        counts = [m["record_count"] for m in res.manifest]
        ok = len(paths) == self.blobs and sum(counts) == self.rows and all(
            0 <= m["_kpf_pid"] < PID_COUNT for m in res.manifest
        )
        if not ok:
            self.failures.append(
                f"pass {len(self.passes)}: {len(paths)} blobs listed, "
                f"manifest holds {sum(counts)} of {self.rows} rows"
            )
        return {"wall_s": wall, "cpu_s": cpu, "ok": ok, "span": span}

    def warm(self) -> None:
        for _ in range(self.warm_passes):
            self._pass()

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while not self.passes or time.perf_counter() < deadline:
            self.passes.append(self._pass())

    def finish(self) -> None:
        """Check the last pass's output file by file against the input."""
        con = self.ctx.duckdb()
        rows, checksum = con.execute(
            "SELECT count(*), bit_xor(hash(l_orderkey, l_linenumber)) "
            f"FROM read_parquet('{self.out}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()
        (bad_pid,) = con.execute(pid_check_sql(self.out, "l_orderkey", self.ctx.seed)).fetchone()
        self.pid_skew = pid_skew(con, self.out)
        con.close()
        if (rows, checksum) != (self.rows, self.checksum) or bad_pid:
            self.passes[-1]["ok"] = False
            self.failures.append(
                f"last pass output: {rows} rows of {self.rows}, checksum "
                f"{'equal' if checksum == self.checksum else 'differs'}, "
                f"{bad_pid} rows with a wrong _kpf_pid"
            )

    @property
    def attempted(self) -> int:
        return len(self.passes)

    @property
    def failed(self) -> int:
        return sum(not p["ok"] for p in self.passes)

    def end_to_end(self) -> dict[str, float]:
        wall = median([p["wall_s"] for p in self.passes])
        return {
            "lag_p50_s": wall,
            "cpu_s": median([p["cpu_s"] for p in self.passes]),
        }

    def report(self) -> dict:
        wall = median([p["wall_s"] for p in self.passes])
        return {
            "passes": len(self.passes),
            "pass_s": [round(p["wall_s"], 3) for p in self.passes],
            "mb_per_s": self.raw_bytes / 2**20 / wall,
            "input_mb": self.raw_bytes / 2**20,
            "landing_mb": self.landing_bytes / 2**20,
            "rows": self.rows,
        }

    def per_layer(self, log: dict) -> dict[str, float]:
        tr = self.ctx.tracer
        per_pass = []
        for p in self.passes:
            span = p["span"]
            ids = {s.span_id for s in tr.descendants(span)} | {span.span_id}
            jobs = {j for j, info in log["jobs"].items() if info["group"] in ids}
            stages = [st for st in log["stages"].values() if st["job"] in jobs]
            kids = {s.name: s for s in tr.children(span)}
            layer = plan_layer(stages) | {
                "sources.list_s": kids["sources.list_source"].duration,
                "sources.read_s": kids["sources.read_landing"].duration,
                "prepartition.call_s": kids["plans.run_prepartition"].duration,
                "pass.self_s": tr.self_time(span),
            }
            layer["sources.scans_per_pass"] = layer["sources.input_bytes"] / self.landing_bytes
            per_pass.append(layer)
        out = {k: median([lp[k] for lp in per_pass]) for k in per_pass[0]}
        return out | sink_layer(self.out) | {"prepartition.pid_skew": self.pid_skew}


# --- arrival_stream -------------------------------------------------------


def read_source_log(checkpoint: str) -> dict[str, int]:
    """``{file basename: batch id}`` from the file-source log of source 0.

    Every tenth batch Spark writes ``<b>.compact`` holding all entries so
    far; each entry carries its own ``batchId``, so plain and compact
    files are read alike.
    """
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version, "v1"
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """``{batch id: mtime of commits/<b>}`` (epoch seconds)."""
    out: dict[int, float] = {}
    commit_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commit_dir):
        return out
    for name in os.listdir(commit_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commit_dir, name)).st_mtime
    return out


def blob_commits(checkpoint: str) -> dict[str, tuple[int, float]]:
    """``{blob: (batch id, commit time)}`` for every committed blob."""
    batches = read_source_log(checkpoint)
    commits = commit_times(checkpoint)
    return {blob: (b, commits[b]) for blob, b in batches.items() if b in commits}


def blob_lags(checkpoint: str, due: dict[str, float]) -> dict[str, float]:
    """Seconds from each blob's scheduled arrival to its batch's commit.

    Blobs that never committed are absent from the result.
    """
    commits = blob_commits(checkpoint)
    return {blob: commits[blob][1] - t for blob, t in due.items() if blob in commits}


class ArrivalStream:
    """Open loop: small CSV blobs renamed into a landing directory on a fixed
    schedule, drained by the streaming PrePartition."""

    name = "arrival_stream"
    rate = 0.4  # blobs per second
    rows_per_blob = 1000
    warm_s = 30.0
    drain_timeout_s = 60.0
    extra_conf = {
        # the lag computation reads commits/<b> after the query stops
        "spark.sql.streaming.minBatchesToRetain": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.staging = ctx.path("staging")
        self.landing = ctx.path("landing")
        self.checkpoint = ctx.path("checkpoint")
        self.out = ctx.path("out")
        self.failures: list[str] = []
        self.due: dict[str, float] = {}
        self.actual: dict[str, float] = {}

    def prepare(self, seconds: float) -> None:
        os.makedirs(self.staging)
        os.makedirs(self.landing)
        self.n_warm = math.ceil(self.rate * self.warm_s)
        n = self.n_warm + math.ceil(self.rate * seconds)
        con = self.ctx.duckdb()
        con.execute(
            "CREATE TABLE o AS SELECT *, row_number() OVER (ORDER BY hash(o_orderkey, "
            f"{self.ctx.seed})) - 1 AS r FROM read_parquet('{self.ctx.sf_dir}/orders.parquet')"
        )
        (total,) = con.execute("SELECT count(*) FROM o").fetchone()
        base = total // self.rows_per_blob
        # blobs past the table's end reuse its rows with shifted keys, so
        # every key in the run is unique and exactly-once stays checkable
        con.execute(
            f"CREATE TABLE blobs AS SELECT k AS blob, o.* EXCLUDE (r) REPLACE "
            f"(o_orderkey + (k // {base}) * 1000000000 AS o_orderkey) "
            f"FROM range({n}) t(k) JOIN o ON o.r // {self.rows_per_blob} = k % {base}"
        )
        for k in range(n):
            con.execute(
                f"COPY (SELECT * EXCLUDE (blob) FROM blobs WHERE blob = {k}) "
                f"TO '{self.staging}/orders-{k:05d}.csv' (HEADER)"
            )
        con.execute(f"COPY (SELECT blob, o_orderkey FROM blobs) TO '{self.ctx.path('keys.parquet')}'")
        con.close()
        self.names = [f"orders-{k:05d}.csv" for k in range(n)]
        self.blob_bytes = median([os.path.getsize(f"{self.staging}/{b}") for b in self.names])

    def _arrive(self, names: list[str], t0: float) -> None:
        """The load generator, a single thread: renames on a fixed schedule."""
        for i, name in enumerate(names):
            due = t0 + i / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(f"{self.staging}/{name}", f"{self.landing}/{name}")
            self.actual[name] = time.time()
            self.due[name] = due

    def _run_schedule(self, names: list[str]) -> tuple[float, float]:
        """Deliver ``names`` and wait until all are committed; returns the
        window's (start, end) in epoch seconds."""
        t0 = time.time()
        self._arrive(names, t0)
        deadline = time.time() + self.drain_timeout_s
        while time.time() < deadline:
            committed = blob_commits(self.checkpoint)
            if all(n in committed for n in names):
                break
            time.sleep(0.05)
        return t0, time.time()

    def warm(self) -> None:
        from kusto_pre_forge_spark.catalog import PartitionPolicy
        from kusto_pre_forge_spark.streaming.ingest import StreamingEtl

        tr = self.ctx.tracer
        with tr.span("streaming.start"):
            etl = StreamingEtl(self.ctx.spark, self.landing, self.checkpoint, self.out, ORDERS_DDL)
            policy = PartitionPolicy("o_orderkey", PID_COUNT, policy_seed(self.ctx.seed))
            self.query = etl.start_prepartition(policy, trigger_seconds=None)
        self._run_schedule(self.names[: self.n_warm])

    def measure(self, seconds: float) -> None:
        timed = self.names[self.n_warm :]
        cpu0 = tree_cpu_s()
        with self.ctx.tracer.span("streaming.arrivals", new_trace=True):
            self.window = self._run_schedule(timed)
        self.cpu_s = tree_cpu_s() - cpu0

    def finish(self) -> None:
        with self.ctx.tracer.span("streaming.stop"):
            self.query.stop()
            self.query.awaitTermination()
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]
        timed = self.names[self.n_warm :]
        commits = blob_commits(self.checkpoint)
        self.lags = blob_lags(self.checkpoint, {b: self.due[b] for b in timed})
        missing = [b for b in self.names if b not in commits]
        con = self.ctx.duckdb()
        arrived = ", ".join(str(int(b[7:12])) for b in self.names)
        bad = con.execute(
            "WITH got AS (SELECT o_orderkey, count(*) AS c FROM read_parquet("
            f"'{self.out}/**/*.parquet', hive_partitioning = true) GROUP BY 1) "
            f"SELECT k.blob FROM read_parquet('{self.ctx.path('keys.parquet')}') k "
            f"LEFT JOIN got USING (o_orderkey) WHERE k.blob IN ({arrived}) "
            "GROUP BY k.blob HAVING bool_or(coalesce(c, 0) <> 1) ORDER BY 1"
        ).fetchall()
        (extra,) = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.out}/**/*.parquet', hive_partitioning = true) "
            f"WHERE o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{self.ctx.path('keys.parquet')}'))"
        ).fetchone()
        (bad_pid,) = con.execute(pid_check_sql(self.out, "o_orderkey", self.ctx.seed)).fetchone()
        self.pid_skew = pid_skew(con, self.out)
        con.close()
        self.failed_blobs = set(missing) | {f"orders-{k:05d}.csv" for (k,) in bad}
        if missing:
            self.failures.append(f"{len(missing)} blobs never committed: {missing[:5]}")
        if bad:
            self.failures.append(f"{len(bad)} blobs not present exactly once: {[k for (k,) in bad][:5]}")
        if extra or bad_pid:
            # rows nobody sent, or rows in the wrong partition: no blob to
            # blame, so the whole window fails
            self.failed_blobs |= set(timed)
            self.failures.append(f"{extra} unexpected rows, {bad_pid} rows with a wrong _kpf_pid")

    @property
    def attempted(self) -> int:
        return len(self.names) - self.n_warm

    @property
    def failed(self) -> int:
        return len(self.failed_blobs & set(self.names[self.n_warm :]))

    def end_to_end(self) -> dict[str, float]:
        return {"lag_p50_s": median(list(self.lags.values())), "cpu_s": self.cpu_s}

    def report(self) -> dict:
        timed = self.names[self.n_warm :]
        lags = list(self.lags.values())
        late = [self.actual[b] - self.due[b] for b in timed]
        last_due = max(self.due[b] for b in timed)
        commits = blob_commits(self.checkpoint)
        return {
            "rate_per_s": self.rate,
            "lag_p95_s": percentile_with_tail(lags, 0.95),
            "drain_s": max(commits[b][1] for b in timed if b in commits) - last_due,
            "loadgen.late_max_s": max(late),
            "loadgen.arrivals": len(timed),
            "blob_kb": self.blob_bytes / 1024,
            "batch_ms": [p["durationMs"].get("triggerExecution") for p in self.progress],
            "batch_files": [p["numInputRows"] // self.rows_per_blob for p in self.progress],
        }

    def per_layer(self, log: dict) -> dict[str, float]:
        timed = set(self.names[self.n_warm :])
        commits = blob_commits(self.checkpoint)
        batches = sorted({commits[b][0] for b in timed if b in commits})
        prog = [p for p in self.progress if p["batchId"] in batches]

        def p50(key: str) -> float:
            return median([p["durationMs"].get(key, 0) for p in prog])

        files = [sum(1 for b in timed if commits.get(b, (None,))[0] == bid) for bid in batches]
        # stream jobs run on the stream thread, not under a span's job group;
        # the arrival window holds no other Spark work, so take its jobs by
        # submission time
        lo_ms, hi_ms = self.window[0] * 1000, self.window[1] * 1000
        jobs = {j for j, info in log["jobs"].items() if lo_ms <= info["submit_ms"] <= hi_ms}
        stages = [st for st in log["stages"].values() if st["job"] in jobs]
        layer = plan_layer(stages)
        per_batch = {k: v / len(batches) for k, v in layer.items()}
        per_batch["sources.scans_per_pass"] = layer["sources.input_bytes"] / (len(timed) * self.blob_bytes)
        backlog = 0
        commit_at = sorted(commits[b][1] for b in timed if b in commits)
        for t in sorted(self.actual[b] for b in timed):
            arrived = sum(1 for b in timed if self.actual[b] <= t)
            done = sum(1 for c in commit_at if c <= t)
            backlog = max(backlog, arrived - done)
        # the output holds every batch of the run, warm ones too
        n_all = len(commit_times(self.checkpoint))
        sink = sink_layer(self.out)
        for key in ("sink.files", "sink.bytes", "sink.files_per_pid"):
            sink[key] /= n_all
        return per_batch | sink | {
            "sources.list_s": p50("latestOffset") / 1000,
            "prepartition.call_s": p50("addBatch") / 1000,
            "prepartition.pid_skew": self.pid_skew,
            "stream.batches": len(batches),
            "stream.files_per_batch": median(files),
            "stream.trigger_ms_p50": p50("triggerExecution"),
            "stream.addbatch_ms_p50": p50("addBatch"),
            "stream.plan_ms_p50": p50("queryPlanning"),
            "stream.offset_ms_p50": p50("latestOffset"),
            "stream.commit_ms_p50": p50("commitOffsets"),
            "stream.backlog_max": backlog,
        }


# --- query_mix ---------------------------------------------------------------

MIX = [
    "kql_summarize_q1",
    "kqltext_scan_steps",
    "shard_assign",
    "corpus_pack_materialize",
    "corpus_sft_tokenize",
    "corpus_webdataset_roundtrip",
    "text_bpe",
    "text_wordpiece",
    "text_quality_lr_train",
    "dedup_semantic",
    "dedup_substring_spans",
    "ann_recall_pq",
    "pipeline_quality_route",
    "pipeline_pdf_decrypt",
]


def _oracle_compare():
    """``normalize`` and ``_rows_equal`` of the repository's oracle test, so
    the benchmark compares results exactly as the test suite does."""
    import importlib.util

    import __spark_entry__

    os.environ.setdefault("KPF_TEST_PREFETCH", "0")  # no prefetch pool
    root = os.path.dirname(os.path.abspath(__spark_entry__.__file__))
    spec = importlib.util.spec_from_file_location(
        "perfbench_test_entry", os.path.join(root, "tests", "test_entry.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize, mod._rows_equal


class QueryMix:
    """Closed loop, one caller: passes over registered queries, each result
    checked against its DuckDB oracle."""

    name = "query_mix"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.passes: list[dict] = []
        self.failures: list[str] = []

    def prepare(self, seconds: float) -> None:
        import __spark_entry__ as entry
        from kusto_pre_forge_spark.tables import TABLE_NAMES

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.normalize, self.rows_equal = _oracle_compare()
        con = self.ctx.duckdb()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.sf_dir}/{t}.parquet'")
        self.expected = {}
        for q in MIX:
            odf = con.sql(oracles[q]).df()
            self.expected[q] = (sorted(odf.columns), self.normalize(odf))
        con.close()

    def _mismatch(self, q: str, pdf) -> str | None:
        columns, rows = self.expected[q]
        if sorted(pdf.columns) != columns:
            return "column names differ"
        got = self.normalize(pdf)
        if len(got) != len(rows):
            return f"row count {len(got)} vs oracle {len(rows)}"
        bad = sum(not self.rows_equal(a, b) for a, b in zip(got, rows))
        return f"{bad}/{len(rows)} rows differ" if bad else None

    def _pass(self) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        results, spans = {}, {}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("pass", new_trace=True):
            for q in MIX:
                with tr.span(f"q.{q}") as spans[q]:
                    q0 = time.perf_counter()
                    try:
                        results[q] = (self.queries[q](spark, self.ctx.sf_dir).toPandas(), None)
                    except Exception as exc:  # noqa: BLE001 - one query's failure is one failed op
                        results[q] = (None, f"{type(exc).__name__}: {exc}"[:300])
                    results[q] += (time.perf_counter() - q0,)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        # pins the queries leaked, just before the release between passes
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached_mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        spark.catalog.clearCache()
        failed = {}
        for q, (pdf, err, _) in results.items():
            why = err or self._mismatch(q, pdf)
            if why:
                failed[q] = why
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "query_s": {q: r[2] for q, r in results.items()},
            "failed": failed,
            "spans": spans,
            "cached_rdds": len(infos),
            "cached_mb": cached_mb,
        }

    def warm(self) -> None:
        # the mix runs pandas UDFs, Arrow exchanges, joins and windows:
        # exactly the paths the repository's bench warm-up exercises
        import bench

        bench.warmup(self.ctx.spark)
        self.ctx.spark.catalog.clearCache()
        self._pass()

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        while not self.passes or time.perf_counter() < deadline:
            p = self._pass()
            for q, why in p["failed"].items():
                self.failures.append(f"pass {len(self.passes)} {q}: {why}")
            self.passes.append(p)

    def finish(self) -> None:
        pass

    @property
    def attempted(self) -> int:
        return len(MIX) * len(self.passes)

    @property
    def failed(self) -> int:
        return sum(len(p["failed"]) for p in self.passes)

    def end_to_end(self) -> dict[str, float]:
        return {
            "pass_s": median([p["wall_s"] for p in self.passes]),
            "cpu_s": median([p["cpu_s"] for p in self.passes]),
        }

    def report(self) -> dict:
        return {
            "passes": len(self.passes),
            "query_s": {q: round(median([p["query_s"][q] for p in self.passes]), 3) for q in MIX},
            "failed_queries": sorted({q for p in self.passes for q in p["failed"]}),
        }

    def per_layer(self, log: dict) -> dict[str, float]:
        groups = eventlog.by_group(log)
        out: dict[str, float] = {}
        for q in MIX:
            per_pass = [groups.get(p["spans"][q].span_id, {**eventlog.totals([]), "jobs": 0})
                        for p in self.passes]
            out[f"q.{q}.s"] = median([p["query_s"][q] for p in self.passes])
            for key, name in (("jobs", "jobs"), ("tasks", "tasks"), ("cpu_ms", "cpu_ms"),
                              ("shuffle_write_bytes", "shuffle_bytes")):
                out[f"q.{q}.{name}"] = median([g[key] for g in per_pass])
        out["pinning.cached_rdds_max"] = max(p["cached_rdds"] for p in self.passes)
        out["pinning.cached_mb_max"] = max(p["cached_mb"] for p in self.passes)
        return out


WORKLOADS = {w.name: w for w in (PrepartitionGz, ArrivalStream, QueryMix)}
