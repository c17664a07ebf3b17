"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload prepartition_gz --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans and Spark's event log on
and prints the per-layer metrics instead. Human-readable lines start with
``#``; the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes goes under ``perfbench/.work/``. See README.md
beside this file for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_HEAP = "4g"

_UNITS = {"s": "s", "ms": "ms", "mb": "MB", "kb": "KB", "bytes": "B", "pct": "%",
          "skew": "ratio", "ratio": "ratio"}


def unit_of(metric: str) -> str:
    """Units follow the last word of the metric's name, after any ``max``
    or ``p<N>``: ``s``, ``ms``, ``mb``, ``kb``, ``bytes``, ``pct``,
    ``skew``, ``ratio``; anything else is a count. ``<a>_per_<b>`` is the
    unit of ``a`` over that of ``b``, or a ratio of two counts."""
    if "_per_" in metric:
        num, den = (unit_of(part) for part in metric.rsplit("_per_", 1))
        if den == "count":
            return "ratio"
        return f"{'1' if num == 'count' else num}/{den}"
    words = re.split(r"[._]", metric)
    while len(words) > 1 and (words[-1] == "max" or re.fullmatch(r"p\d+", words[-1])):
        words.pop()
    return _UNITS.get(words[-1], "count")


def reported(workload: str, kind: str, measured: dict) -> dict:
    """The metrics of the final JSON line: for a workload that
    BENCHMARK.json lists, exactly its ``kind`` list; otherwise all of them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        names = sorted(measured)
    else:
        names = [m["name"] for m in spec[kind]]
    return {n: {"value": measured[n], "unit": unit_of(n)} for n in names}


def configure_env(run_dir: str) -> dict[str, str]:
    """Point every temporary file of Spark, the JVM, Python and DuckDB into
    ``run_dir``, and size the session to this machine's cores. Must run
    before the engine is imported: ``session.py`` reads the core count at
    import time. Returns the Spark conf the session needs on top."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["TMPDIR"] = tmp
    # Python workers unpickle the engine's UDFs with their own interpreter
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    # The heap starts at its maximum. Left to grow, G1 settled on a
    # different heap each run (peak RSS 1.6-5.7 GB on one input), and the
    # larger heaps ran the stream's micro-batches faster. Spark puts the
    # default options in front of the session's spark.driver.extraJavaOptions.
    return {"spark.driver.defaultJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}"}


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    from measure import process_tree

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = configure_env(run_dir)

    # the engine and the repository's bench harness; in a checkout without
    # them this import fails and the run ends before printing a result
    import bench
    from kusto_pre_forge_spark.session import get_session

    from measure import HostWindow, RssSampler, host_labels
    from spans import Tracer
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    ctx = Context(sf_dir=bench.SF_DIR, work=run_dir, seed=args.seed,
                  tracer=Tracer(enabled=bool(args.trace)))
    wl = WORKLOADS[args.workload](ctx)
    labels = host_labels() | {"seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    wl.prepare(args.seconds)

    conf |= getattr(wl, "extra_conf", {})
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }
    tr = ctx.tracer
    with HostWindow() as host:
        t0 = time.perf_counter()
        with tr.span("session.start") as start_span:
            ctx.spark = get_session(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        tr.sc = ctx.spark.sparkContext
        t1 = time.perf_counter()
        with tr.span("session.warm") as warm_span:
            wl.warm()
        setup_s = time.perf_counter() - t0
        with RssSampler() as rss:
            wl.measure(args.seconds)
        wl.finish()
        ctx.spark.stop()
    stop_jvm()

    e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb} | wl.end_to_end()
    report = wl.report() | {
        "fail_ratio": wl.failed / wl.attempted,
        "session.start_s": t1 - t0,
        "host": labels,
    } | host.labels()
    for name, value in e2e.items():
        print(f"# {wl.name} {name} = {value:.4f} {unit_of(name)}")
    for key, value in report.items():
        unit = f" {unit_of(key)}" if isinstance(value, (int, float)) else ""
        print(f"# {wl.name} {key} = {json.dumps(value)}{unit}")
    for failure in wl.failures:
        print(f"# FAILED {wl.name}: {failure}")

    last = os.path.join(WORK, "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, f"{wl.name}-trace{args.trace}.json"), "w") as f:
        json.dump({"end_to_end": e2e, "report": report}, f, indent=1)

    if args.trace:
        import eventlog

        (app_log,) = eventlog.find_app_logs(log_dir)
        log = eventlog.rollup(eventlog.read_events(app_log))
        layer = wl.per_layer(log) | {
            "session.start_s": start_span.duration,
            "session.warm_s": warm_span.duration,
        }
        for key in sorted(layer):
            print(f"# {wl.name} layer {key} = {layer[key]:.4f} {unit_of(key)}")
        untraced = os.path.join(last, f"{wl.name}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            for name, value in e2e.items():
                print(f"# {wl.name} trace.overhead {name} = {value - base[name]:+.4f} {unit_of(name)}")
        with open(os.path.join(last, f"{wl.name}-spans.json"), "w") as f:
            json.dump(tr.dump(), f, indent=1)
        metrics = reported(wl.name, "per_layer", layer)
    else:
        metrics = reported(wl.name, "end_to_end", e2e)

    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
