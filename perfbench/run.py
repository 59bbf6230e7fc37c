#!/usr/bin/env python3
"""The engine's benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout of the repository.  One SparkSession on
``local[<cpus>]`` serves a closed loop with one client: the next operation
starts when the previous one has finished.  An operation is one registry
query (``QuerySpec.fn`` plus one ``collect``) or one pipeline batch
(ingest -> streaming promote -> txn merge); see workloads.py.

A run has two phases:

* set-up: session start, input preparation, and one untimed pass over the
  whole workload, in listed order, that checks every result and warms the
  session;
* measurement: a fixed number of passes, derived from ``--seconds`` and the
  workload's nominal pass time, each in a seed-shuffled order.

With ``--trace 0`` the last line of stdout is the end-to-end metrics;
with ``--trace 1`` the Spark event log is on, passes alternate between
spans off and spans on, and the last line is the per-layer metrics of the
traced passes.  Lines before it print the settings, the tail percentile
and where the spans were written.  Everything the run writes lives under
``.perfbench_runs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "aws_genaric_datapipeline_spark"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------------ host
def host_settings(run_dir: Path) -> dict[str, str]:
    """Size the session to the host and give the run its own directories."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1]) // 1024
    dirs = {k: run_dir / k for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # The engine's default heap (24g) can exceed the host's memory.  The
        # heap is also fixed (-Xms = -Xmx below), so that peak RSS follows
        # the work done rather than G1's heap-resizing decisions.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "TMPDIR": str(dirs["tmp"]),
        "SPARK_LOCAL_DIRS": str(dirs["local"]),
        "WAREHOUSE": str(dirs["warehouse"]),
    }


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and its descendants, sampled from /proc."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self.seen: set[int] = set()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            self.seen.add(pid)
        self.peak_mb = max(self.peak_mb, total / 2**20)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def stop_spark(spark, sampler: RssSampler | None) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    leftovers = [p for p in (sampler.seen if sampler else ()) if Path(f"/proc/{p}").exists()]
    deadline = time.monotonic() + 10
    while leftovers and time.monotonic() < deadline:
        time.sleep(0.1)
        leftovers = [p for p in leftovers if Path(f"/proc/{p}").exists()]
    for pid in leftovers:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------- metrics
def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples above it, as
    (value, percentile).  With 10 samples or fewer no percentile has, and
    the maximum (p100) is reported."""
    xs = sorted(latencies)
    k = len(xs) - 10
    if k < 1:
        return xs[-1], 100.0
    return xs[k - 1], 100.0 * k / len(xs)


def pass_wall(ops) -> float:
    """A pass's time: its operations back to back, without the checks."""
    return sum(op.latency_s for op in ops)


def median_pass(ops_by_pass) -> float:
    """One pass's time, taken as the sum over the workload's operations of
    each one's median latency across the passes, so that an interference
    spike in one pass does not move it."""
    by_name: dict[str, list[float]] = {}
    for ops in ops_by_pass:
        for op in ops:
            by_name.setdefault(op.name, []).append(op.latency_s)
    return sum(statistics.median(xs) for xs in by_name.values())


def end_to_end(ops_by_pass, setup_s, peak_rss_mb):
    wall_s = median_pass(ops_by_pass)
    ops = [op for pass_ops in ops_by_pass for op in pass_ops]
    lat = [op.latency_s for op in ops if op.ok] or [op.latency_s for op in ops]
    rows = sum(op.rows for op in ops_by_pass[0] if op.ok)
    tail_s, pct = tail(lat)
    print(f"perfbench: op_tail_s is p{pct:.1f} of n={len(lat)} operations", flush=True)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "rows_per_s": (rows / wall_s, "1/s"),
    }


def per_layer(workload, tracer, traced_passes, log_path, session_s, overhead):
    """Per-layer figures of the traced passes ({pass_id: ops}): sums per
    pass for the query layers and Spark's task metrics, means per call or
    per batch for the pipeline layers, and for persisted RDDs the most
    still registered after ``clearCache()`` following any traced query."""
    import eventlog

    traced = [op for ops in traced_passes.values() for op in ops]
    n_pass = len(traced_passes)
    op_ids = {op.op_id for op in traced}
    spark_ops = eventlog.per_op(
        log_path,
        [eventlog.OpWindow(op.op_id, frozenset(op.groups), op.start_ms, op.end_ms) for op in traced],
    )

    def per_pass(xs):
        return sum(xs) / n_pass

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    def layer(key):
        return per_pass(op.layers.get(key, 0.0) for op in traced)

    def events(key, ops=traced):
        return per_pass(spark_ops.get(op.op_id, {}).get(key, 0.0) for op in ops)

    dur = tracer.durations(op_ids)
    self_t = tracer.self_times(op_ids)
    graph_self = [t for name, ts in self_t.items() if name.startswith("operators.graph.") for t in ts]
    run_s, cpu_s = events("run_s"), events("cpu_s")
    pipeline = hasattr(workload, "txn_write_amp")
    query_ops = [] if pipeline else traced
    batches = traced if pipeline else []
    return {
        "session.start_s": (session_s, "s"),
        "queries.build_s": (layer("build_s"), "s"),
        "queries.build_jobs": (layer("build_jobs"), "count"),
        "queries.action_s": (layer("action_s"), "s"),
        "queries.jobs": (layer("jobs"), "count"),
        "queries.stages": (events("stages", query_ops), "count"),
        "queries.tasks": (events("tasks", query_ops), "count"),
        "queries.persisted_rdds_left": (max((op.layers.get("persisted_rdds_left", 0) for op in traced), default=0), "count"),
        "operators.graph.calls": (len(graph_self) / n_pass, "count"),
        "operators.graph.self_s": (per_pass(graph_self), "s"),
        "spark.task_run_s": (run_s, "s"),
        "spark.task_cpu_s": (cpu_s, "s"),
        "spark.task_deser_s": (events("deser_s"), "s"),
        "spark.task_gc_s": (events("gc_s"), "s"),
        "spark.task_wait_s": (run_s - cpu_s, "s"),
        "spark.cpu_share": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "spark.input_mb": (events("input_mb"), "MB"),
        "spark.shuffle_write_mb": (events("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (events("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (events("spill_mb"), "MB"),
        "pipeline.ingest_s": (mean(dur.get("pipeline.ingest", [])), "s"),
        "pipeline.promote_batch_s": (mean(dur.get("pipeline.promote_batch", [])), "s"),
        "pipeline.jobs_per_batch": (mean(spark_ops.get(op.op_id, {}).get("jobs", 0.0) for op in batches), "count"),
        "state.append_s": (mean(dur.get("state.append", [])), "s"),
        "state.append_calls": (len(dur.get("state.append", [])) / len(batches) if batches else 0.0, "count"),
        "state.pending_s": (mean(dur.get("state.pending", [])), "s"),
        "state.log_files": (mean(workload.state_log_files(p) for p in traced_passes) if pipeline else 0.0, "count"),
        "streaming.drain_self_s": (mean(self_t.get("streaming.drain", [])), "s"),
        "txn.merge_upsert_s": (mean(dur.get("txn.merge_upsert", [])), "s"),
        "txn.write_amp": (mean(workload.txn_write_amp(p) for p in traced_passes) if pipeline else 0.0, "ratio"),
        "trace.overhead": (overhead, "ratio"),
    }


def report_pass(label: str, ops) -> None:
    per_op = " ".join(f"{op.name}={op.latency_s:.2f}{'' if op.ok else '!'}" for op in ops)
    print(f"perfbench: {label}: {pass_wall(ops):.2f}s {per_op}", flush=True)


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, str(BENCH))
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import FINGERPRINTS, PASS_SECONDS, PIPELINE, QUERY_WORKLOADS

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = ROOT / ".perfbench_runs" / tag
    settings = host_settings(run_dir / "work")
    warehouse = settings.pop("WAREHOUSE")
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR: the engine keeps state under gettempdir()
    sys.path.insert(0, str(ROOT))

    tracer = Tracer()
    if args.trace:
        # Wrap operators.graph before any query module binds its functions
        # (queries/record_linkage.py imports bfs_hops and sssp_weighted).
        import aws_genaric_datapipeline_spark.operators.graph as graph

        if f"{PACKAGE}.queries" in sys.modules:
            raise RuntimeError("queries imported before operators.graph was wrapped")
        tracer.wrap_module(graph, "operators.graph")
        from aws_genaric_datapipeline_spark.pipeline.jobs import Pipeline
        from aws_genaric_datapipeline_spark.pipeline.state import StateStore
        from aws_genaric_datapipeline_spark.pipeline.txn import TxnTable

        tracer.wrap_method(Pipeline, "ingest", "pipeline.ingest")
        tracer.wrap_method(Pipeline, "promote_batch", "pipeline.promote_batch")
        tracer.wrap_method(StateStore, "append", "state.append")
        tracer.wrap_method(StateStore, "pending", "state.pending")
        tracer.wrap_method(TxnTable, "merge_upsert", "txn.merge_upsert")

    conf = {
        "spark.local.dir": settings["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": warehouse,
        "spark.driver.extraJavaOptions": f"-Xms{settings['SPARK_GRAFT_DRIVER_MEM']}"
        f" -Djava.io.tmpdir={settings['TMPDIR']} -Dderby.system.home={warehouse}",
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = run_dir / "work" / "eventlog"
    if args.trace:
        log_dir.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    from aws_genaric_datapipeline_spark.session import get_spark

    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{tag}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    tracer.enabled = False
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()

    n_pass = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
    if args.trace:
        n_pass = max(2, n_pass)
    print(
        "perfbench: settings "
        + json.dumps(
            {
                **settings,
                "warehouse": warehouse,
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "event_log": str(log_dir) if args.trace else None,
                "measured_passes": n_pass,
                "nominal_pass_s": PASS_SECONDS[args.workload],
            }
        ),
        flush=True,
    )
    try:
        if args.workload == PIPELINE:
            from workloads import PipelineWorkload

            workload = PipelineWorkload(spark, tracer, args.seed, run_dir / "work" / "pipeline", tag)
        else:
            from workloads import QueryWorkload

            workload = QueryWorkload(
                spark, QUERY_WORKLOADS[args.workload], tracer, json.loads(FINGERPRINTS.read_text()), tag
            )
        workload.prepare()
        verify = workload.run_pass(args.seed, 0, traced=False)
        setup_s = time.perf_counter() - t_start
        report_pass("verify", verify)
        measured, traced_passes = [], {}
        for pass_id in range(1, n_pass + 1):
            traced = bool(args.trace) and pass_id % 2 == 0
            tracer.enabled = traced
            ops = workload.run_pass(args.seed, pass_id, traced=traced)
            tracer.enabled = False
            report_pass(f"pass {pass_id}" + (" (traced)" if traced else ""), ops)
            if traced:
                traced_passes[pass_id] = ops
            else:
                measured.append(ops)
        sampler.sample()
    finally:
        sampler.stop()
        stop_spark(spark, sampler)

    all_ops = verify + [op for ops in [*measured, *traced_passes.values()] for op in ops]
    failed = sum(not op.ok for op in all_ops)
    if args.trace:
        spans_path = run_dir / "spans.json"
        tracer.dump(spans_path)
        print(f"perfbench: {len(tracer.spans)} spans written to {spans_path}", flush=True)
        overhead = median_pass(traced_passes.values()) / median_pass(measured)
        log_path = next(log_dir.iterdir())
        metrics = per_layer(workload, tracer, traced_passes, log_path, session_s, overhead)
    else:
        metrics = end_to_end(measured, setup_s, sampler.peak_mb)
    shutil.rmtree(run_dir / "work", ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
