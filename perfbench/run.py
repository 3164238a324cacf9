"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_ops|etl_changefeed \
        --seed N --seconds S --trace 0|1

Runs one workload in this process, closed loop from a single client, on
``local[<nproc>]`` with the session defaults of ``session.py``. Set-up
(session start, input staging, untimed warm-up) is timed as
``setup_s``; whole passes then run until ``--seconds`` have elapsed (at
least one). Outputs are checked outside the timed windows.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` Spark also writes an event log, and the run makes an
untimed pass, an untraced pass and then a traced pass; the last line
then carries the per-layer metrics of the traced pass, and the spans
are written to ``.perfbench/out``. The line before the last one is a
report of the run: machine state, session conf, samples and checks.

Inputs and Spark's scratch files live in a fresh directory under
``.perfbench/work`` that the run removes when it ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "durable_functions_cosmosdb_etl_spark"

import probes  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("llm_ops", "etl_changefeed")
# The self times of the layer spans along the blocking path (every span
# in the traced pass but the pass itself and the benchmark's own
# bookkeeping spans) plus the bookkeeping must add up to the traced
# pass's wall time within this share of it: at most that share of the
# pass may be time that no span covers.
SELF_TIME_TOLERANCE = 0.02
BOOKKEEPING = "bench.probe"
# session conf recorded with every run
RECORDED_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.driver.memory",
)


class PassWindow:
    """Times one pass and the operations inside it.

    In a traced pass each operation also gets a span and its own Spark
    job group, whose job, stage and task counts are read when it ends;
    that bookkeeping runs inside ``bench.probe`` spans.
    """

    def __init__(self, run: "Run", traced: bool, tag: str) -> None:
        self.run = run
        self.traced = traced
        self.tag = tag
        self.ops: dict[str, tuple[float, float]] = {}
        self.counts: dict[str, dict[str, int]] = {}
        self.result: dict = {}

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation; each one counts as attempted."""
        self.run.attempted += 1
        sc = self.run.spark.sparkContext
        group = f"{self.tag}/{name}"
        if self.traced:
            with self.probe():
                sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with self.run.tracer.span(name):
                yield
        finally:
            self.ops[name] = (t0, time.perf_counter())
            if self.traced:
                with self.probe():
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    self.counts[name] = probes.group_counts(sc, group)

    def op_s(self, name: str) -> float:
        t0, t1 = self.ops.get(name, (0.0, 0.0))
        return t1 - t0

    def probe(self):
        return self.run.tracer.span(BOOKKEEPING)


class Run:
    """State of one benchmark run: session, tracer, counters, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scale: float) -> None:
        self.workload = workload
        self.scale = scale
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.repo = REPO
        self.rng = random.Random(seed)
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"
        self.work = os.path.join(REPO, ".perfbench", "work", self.run_id)
        self.out = os.path.join(REPO, ".perfbench", "out")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.tracer = spans.Tracer(self.run_id, enabled=False)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks: dict[str, bool] = {}
        self.spark = None
        self.jvm = None
        self.passes = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str | None = None) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.fail(f"check: {name}" + (f": {detail}" if detail else ""))

    @contextlib.contextmanager
    def pass_window(self, traced: bool):
        """Time one pass: wall, process-tree CPU, steal, and (traced) GC."""
        self.passes += 1
        w = PassWindow(self, traced, f"{self.run_id}/pass{self.passes}")
        self.tracer.enabled = traced
        gc0 = probes.gc_seconds(self.spark) if traced else 0.0
        cpu0 = probes.cpu_split(os.getpid(), self.jvm)
        stat0 = probes.cpu_times()
        t0 = time.perf_counter()
        with self.tracer.span("pass") as root:
            yield w
        wall = time.perf_counter() - t0
        stat1 = probes.cpu_times()
        cpu1 = probes.cpu_split(os.getpid(), self.jvm)
        self.tracer.enabled = False
        split = {k: cpu1[k] - cpu0[k] for k in cpu0}
        w.result.update(
            wall_s=wall,
            cpu_s=sum(split.values()),
            cpu_split=split,
            steal_share=probes.steal_share(stat0, stat1),
            ops={k: w.op_s(k) for k in w.ops},
            counts=w.counts,
            traced=traced,
        )
        if traced:
            w.result["gc_s"] = probes.gc_seconds(self.spark) - gc0
            w.result["root_span"] = root.sid
            w.result["groups"] = [f"{w.tag}/{k}" for k in w.ops]


def metric_units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def _make_work_dir(run: Run) -> None:
    """Create the run's directory and keep every scratch file of the
    driver, DuckDB, the JVM and the Python workers inside it."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _start_session(run: Run):
    """Start Spark with the engine's session defaults."""
    from durable_functions_cosmosdb_etl_spark.session import get_spark

    extra = None
    if run.trace:
        os.makedirs(run.eventlog)
        extra = probes.eventlog_conf(run.eventlog)
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(f"perfbench-{run.workload}", master=f"local[{nproc}]",
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(run: Run) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    children = set(probes.process_tree(os.getpid())) - {os.getpid()}
    run.spark.stop()
    run.spark = None
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        proc.wait(timeout=60)
    probes.wait_gone(children)


def _machine(run: Run) -> dict:
    sc = run.spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "conf": {k: run.spark.conf.get(k, None) for k in RECORDED_CONF},
    }


def _layer_metrics(run: Run, wl, traced: dict, untraced: list[dict],
                   shuffle: dict[str, int], setup: dict,
                   peak_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of the traced pass (0 where a layer is unused)."""
    import queryload

    root = traced["root_span"]
    self_by_name = spans.self_time_by_name(spans.subtree(run.tracer.spans, root))
    layers_s = spans.layer_self_time(run.tracer.spans, root, skip=(BOOKKEEPING,))
    ops, counts = traced["ops"], traced["counts"]

    def total(key: str) -> int:
        return sum(c[key] for c in counts.values())

    m = {
        "session.start_s": setup["session_s"],
        "session.warmup_s": setup["warmup_s"],
        "plans.build_s": self_by_name.get("plans.build", 0.0),
        "spark.save_s": self_by_name.get("spark.save", 0.0),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.single_task_stages": total("single_task_stages"),
        "spark.failed_tasks": total("failed_tasks"),
        "spark.shuffle_bytes": sum(shuffle.get(g, 0) for g in traced["groups"]),
        "proc.driver_cpu_s": traced["cpu_split"]["driver"],
        "proc.jvm_cpu_s": traced["cpu_split"]["jvm"],
        "proc.pyworker_cpu_s": traced["cpu_split"]["pyworker"],
        "proc.steal_share": traced["steal_share"],
        "proc.peak_rss_mb": peak_rss_mb,
        "jvm.gc_s": traced["gc_s"],
    }
    for name in queryload.QUERIES:
        m[f"q.{name}_s"] = ops.get(f"q.{name}", 0.0)
        m[f"q.{name}.jobs"] = counts.get(f"q.{name}", {}).get("jobs", 0)
    for name in ("etl.batch", "logtable.ingest", "changefeed.drain",
                 "logtable.lookup", "logtable.scan", "logtable.maintenance"):
        m[f"{name}_s"] = ops.get(name, 0.0)
    m["changefeed.jobs"] = counts.get("changefeed.drain", {}).get("jobs", 0)
    drain = traced.get("drain_stats", {})
    m["changefeed.rows"] = drain.get("rows_upserted", 0)
    m["changefeed.capture_fallbacks"] = drain.get("capture_fallbacks", 0)
    m["writers.audit_rows"] = wl.audit_rows() if run.workload == "etl_changefeed" else 0
    commits = traced.get("commits", {})
    for label, prefix in (("source", "logtable."), ("target", "logtable.target_")):
        c = commits.get(label, {})
        m[f"{prefix}files_per_commit"] = c.get("files_per_commit", 0.0)
        m[f"{prefix}bytes_written_per_row"] = c.get("bytes_written_per_row", 0.0)
    m["trace.pass_s"] = traced["wall_s"]
    m["trace.untraced_pass_s"] = statistics.mean(p["wall_s"] for p in untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    m["trace.layers_s"] = layers_s
    m["trace.bookkeeping_s"] = self_by_name.get(BOOKKEEPING, 0.0)
    # pass time that neither a layer span nor the bookkeeping covers
    m["trace.unattributed_s"] = traced["wall_s"] - layers_s - m["trace.bookkeeping_s"]
    m["trace.unattributed_share"] = m["trace.unattributed_s"] / traced["wall_s"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="input scale factor (tests use 0.001)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, ENGINE)) or not os.path.isfile(
        os.path.join(REPO, "tools", "check_correctness.py")
    ):
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    _make_work_dir(run)
    try:
        return _run(run)
    finally:
        if run.spark is not None:
            _stop_session(run)
        shutil.rmtree(run.work, ignore_errors=True)


def _run(run: Run) -> int:
    import etlload
    import queryload

    load0 = probes.loadavg()
    if run.workload == "etl_changefeed":
        wl = etlload.EtlWorkload(run)
    else:
        wl = queryload.QueryWorkload(run)
    wl.prepare()
    t = time.perf_counter()
    run.spark = _start_session(run)
    run.jvm = probes.jvm_pid(os.getpid())
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.stage()
    wl.warm_pass()
    setup = {
        "setup_s": time.perf_counter() - T_START,
        "session_s": session_s,
        "warmup_s": time.perf_counter() - t,
    }

    passes = []
    traced = None
    t_loop = time.perf_counter()
    if run.trace:
        # one more untimed pass first, so that the untraced and the traced
        # pass both run after the JIT's first pass over the timed path
        wl.one_pass(traced=False)
        passes.append(wl.one_pass(traced=False))
        traced = wl.one_pass(traced=True)
    else:
        while not passes or time.perf_counter() - t_loop < run.seconds:
            passes.append(wl.one_pass(traced=False))
    wl.check()
    e2e = wl.summary(passes)
    peak_rss_mb = probes.vm_hwm_mb(os.getpid()) + probes.vm_hwm_mb(run.jvm)
    load1 = probes.loadavg()
    report = {
        "workload": run.workload,
        "seed": run.seed,
        "trace": int(run.trace),
        "scale": run.scale,
        "machine": _machine(run),
        "loadavg_before": load0,
        "loadavg_after": load1,
        "samples": len(passes),
        "peak_rss_mb": peak_rss_mb,
        "pass_s": [p["wall_s"] for p in passes],
        "cpu_s": [p["cpu_s"] for p in passes],
        "steal_share": [p["steal_share"] for p in passes],
        "ops_s": [p["ops"] for p in passes],
        "traced_pass": traced and {k: traced[k] for k in ("wall_s", "cpu_s", "ops", "counts")},
        "checks": run.checks,
        "failures": run.failures,
    }

    if run.trace:
        _stop_session(run)  # flushes the event log
        shuffle = probes.shuffle_bytes_by_group(run.eventlog)
        metrics = _layer_metrics(run, wl, traced, passes, shuffle, setup, peak_rss_mb)
        run.check(
            "layer self times add up to the traced pass",
            abs(metrics["trace.unattributed_share"]) <= SELF_TIME_TOLERANCE,
        )
        metrics["error_rate"] = run.failed / run.attempted
        os.makedirs(run.out, exist_ok=True)
        run.tracer.write(os.path.join(run.out, f"{run.run_id}.spans.json"))
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            **e2e,
        }
    units = metric_units()
    report["setup"] = setup
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
