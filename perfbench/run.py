"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from
the seed, runs it on ``local[<cores>]``, checks every output, and prints
as its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it is a
JSON ``context`` object: contention sentinels, the tail percentile and
its sample count, and the per-layer breakdown in seconds.  A traced
run also writes its spans to ``perfbench/out/``.

Everything the run writes (generated lake, landing files, warehouse,
checkpoints, stage caches, Spark scratch, JVM temp files) lives in a
private directory under ``perfbench/.run/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG_DIR = ROOT / "iot_simulator_datalake_spark"

#: the gated end-to-end metrics.  On a host where co-tenants steal 5-20 %
#: of the CPU, wall-clock latencies spread 25-45 % between runs, so they
#: are reported in the context line (``end_to_end``) and not gated
END_TO_END = {"setup_s": "s", "cpu_s_per_pass": "s",
              "storage_bytes_per_input_byte": "B/B"}
WORKLOADS = ("iot_ingest", "lake_queries", "llm_curation")
SELF_LAYERS = ("bench", "queries", "operators", "functions", "stagecache",
               "engine", "streaming", "sources", "spark")
PER_LAYER = {"trace.wall_s": "s", "trace.overhead_s": "s",
             "trace.spans": "count", "trace.accounted_pct": "%",
             "wait.pct": "%",
             **{f"{layer}.self_pct": "%" for layer in SELF_LAYERS},
             "operators.calls": "count", "functions.calls": "count",
             "stagecache.builds": "count", "stagecache.hits": "count",
             "streaming.batches": "count", "streaming.input_rows": "count",
             "sources.lag_files": "count", "engine.checks": "count",
             "engine.check_failures": "count",
             "engine.version_dirs": "count", "engine.warehouse_bytes": "B",
             "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
             "spark.tasks_per_op": "count", "spark.failed_tasks": "count",
             "gen.files": "count", "gen.events": "count"}


def calibration_sec(reps: int = 1) -> float:
    """Co-tenant sentinel: median wall of a fixed single-threaded CPU
    workload (256 md5 passes over 1 MiB).  It moves only with host
    contention, never with the program."""
    buf = b"\x5a" * (1 << 20)
    ts = []
    for _ in range(reps):
        t0 = time.monotonic()
        h = hashlib.md5()
        for _ in range(256):
            h.update(buf)
        ts.append(time.monotonic() - t0)
    return sorted(ts)[len(ts) // 2]


def loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (/proc/stat): [total, steal]."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0]
         .split()[1:]]
    return [sum(f), f[7] if len(f) > 7 else 0]


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, CPU ticks used by it and its reaped children)
    for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            st = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(table=None, exclude=frozenset()) -> set[int]:
    """Live descendants of this process (subtrees in ``exclude`` cut)."""
    table = table or _proc_table()
    me, out = os.getpid(), set()
    for pid in table:
        p = pid
        while p > 1 and p != me and p not in exclude:
            p = table.get(p, (0, 0))[0]
        if p == me and pid != me:
            out.add(pid)
    return out


def cpu_mark(exclude: set[int] = frozenset()) -> dict[int, int]:
    """CPU ticks per process of this process and its live descendants
    (the JVM, its Python workers), minus the subtrees in ``exclude``."""
    table = _proc_table()
    return {p: table[p][1] for p in descendants(table, exclude)
            | {os.getpid()} if p in table}


def cpu_since(mark: dict[int, int], now: dict[int, int]) -> float:
    """CPU seconds used between two marks.  Per process, so a worker
    that exits in between does not take its earlier ticks with it.
    Unlike wall time this does not grow with CPU stolen by co-tenants."""
    ticks = sum(t - mark.get(p, 0) for p, t in now.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def isolate(run_dir: Path) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM
    into the private run directory, and pin cores and driver memory
    through the package's own environment variables."""
    for sub in ("tmp", "spark", "jvm"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None              # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={run_dir / 'jvm'} "
        f"-XX:-UsePerfData' pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, str(ROOT))


def stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait until it and
    every process it started (Python workers) have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    children = descendants()
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()             # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:              # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if Path(f"/proc/{p}").exists()
                    and "Z" not in _state(p)}
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        st = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return "X"
    return st[st.rindex(")") + 2]


class Context:
    """What a workload needs: session, tracer, seed, timing window."""

    def __init__(self, args, run_dir: Path, tracer, jobs_factory):
        self.seed, self.seconds = args.seed, args.seconds
        self.root, self.run_dir = ROOT, run_dir
        self.tmp_dir = run_dir / "tmp"
        self.tracer = tracer
        self.spark = None
        self.jobs = None
        self._jobs_factory = jobs_factory
        self.window = [0.0, 0.0]
        self.counts: list[dict] = [{}, {}]
        self.ops = 0
        self.poll_s = 0.0
        self.cpu_exclude: set[int] = set()

    def cpu_mark(self) -> dict[int, int]:
        return cpu_mark(self.cpu_exclude)

    def cpu_since(self, mark: dict[int, int]) -> float:
        return cpu_since(mark, self.cpu_mark())

    def window_start(self) -> None:
        self.window[0] = time.monotonic()
        self.counts[0] = dict(self.tracer.counts)
        if self.tracer.enabled:
            self.jobs = self._jobs_factory(self.spark.sparkContext)

    def window_end(self) -> None:
        self.window[1] = time.monotonic()
        self.counts[1] = dict(self.tracer.counts)

    def after_op(self) -> None:
        if self.window[0] and not self.window[1]:
            self.ops += 1
            if self.jobs is not None:
                t0 = time.monotonic()
                self.jobs.poll()
                self.poll_s += time.monotonic() - t0

    def delta(self, key: str) -> float:
        """A tracer count accumulated inside the timed window."""
        return self.counts[1].get(key, 0) - self.counts[0].get(key, 0)


def layer_report(ctx, res: dict, span_cost_s: float) -> tuple:
    """(per-layer metrics, per-layer seconds) of the timed window."""
    from spans import self_times, union_length
    tr = ctx.tracer
    w0, w1 = ctx.window
    wall = w1 - w0
    spans = [s for s in tr.spans if s[3] >= w0 and s[4] <= w1]
    st = self_times(spans)
    self_s = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in spans:
        self_s[s[2]] = self_s.get(s[2], 0.0) + st[s[0]]
    roots = union_length([(s[3], s[4]) for s in spans if s[5] is None])
    wait = wall - roots
    d = res["detail"]
    ops = max(1, ctx.ops)
    jobs = ctx.jobs.totals if ctx.jobs else {}
    builds = tr.counts.get("stagecache.builds", 0)
    metrics = {
        "trace.wall_s": wall,
        "trace.overhead_s": len(spans) * span_cost_s + ctx.poll_s,
        "trace.spans": len(spans),
        "trace.accounted_pct": 100.0 * (sum(self_s.values()) + wait) / wall,
        "wait.pct": 100.0 * wait / wall,
        **{f"{k}.self_pct": 100.0 * self_s[k] / wall for k in SELF_LAYERS},
        "operators.calls": ctx.delta("operators.calls"),
        "functions.calls": ctx.delta("functions.calls"),
        "stagecache.builds": builds,
        "stagecache.hits": (ctx.delta("stagecache.lookups")
                            - ctx.delta("stagecache.builds")),
        "streaming.batches": ctx.delta("streaming.batches"),
        "streaming.input_rows": ctx.delta("streaming.input_rows"),
        "sources.lag_files": d.get("sources.lag_files", 0),
        "engine.checks": sum(s[1] == "engine.check" for s in spans),
        "engine.check_failures": d.get("check_failures", 0),
        "engine.version_dirs": d.get("engine.version_dirs", 0),
        "engine.warehouse_bytes": d.get("engine.warehouse_bytes", 0),
        "spark.jobs_per_op": jobs.get("jobs", 0) / ops,
        "spark.stages_per_op": jobs.get("stages", 0) / ops,
        "spark.tasks_per_op": jobs.get("tasks", 0) / ops,
        "spark.failed_tasks": jobs.get("failed_tasks", 0),
        "gen.files": d.get("gen.files", 0),
        "gen.events": d.get("gen.events", 0)}

    def inclusive(layer):
        return union_length([(s[3], s[4]) for s in spans if s[2] == layer])
    seconds = {
        **{f"{k}.self_s": v for k, v in self_s.items()},
        "wait_s": wait,
        "sources.infer_schema_s": tr.name_total(
            "sources.infer_and_persist_schema"),
        "streaming.refresh_s": inclusive("streaming"),
        "streaming.add_batch_s": ctx.delta("streaming.add_batch_s"),
        "streaming.overhead_s": (ctx.delta("streaming.trigger_s")
                                 - ctx.delta("streaming.add_batch_s")),
        "engine.run_s": sum(s[4] - s[3] for s in spans
                            if s[1] == "engine.run"),
        "engine.test_s": sum(s[4] - s[3] for s in spans
                             if s[1] == "engine.test"),
        "operators.build_s": inclusive("operators"),
        "functions.build_s": inclusive("functions"),
        "stagecache.build_s": tr.name_total("stagecache.build"),
        "span_cost_s": span_cost_s, "status_poll_s": ctx.poll_s}
    return metrics, seconds


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (PKG_DIR / "__init__.py").is_file():
        print(f"error: the program ({PKG_DIR.name}/) is not in this "
              f"checkout; run from the repository root", file=sys.stderr)
        return 2

    run_dir = HERE / ".run" / f"{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: Path) -> int:
    import duckdb  # noqa: F401  the benchmark's own dependencies load
    import pyarrow  # noqa: F401  outside the set-up time

    import instrument
    from spans import Tracer, span_cost

    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
               "driver_mem": os.environ["SPARK_DRIVER_MEM"],
               "calibration_sec": {"start": calibration_sec()},
               "loadavg": {"start": loadavg()}}
    ticks0 = cpu_ticks()
    tracer = Tracer(bool(args.trace))
    cost = span_cost() if args.trace else 0.0

    # set-up starts with importing the program and starting its session
    t0 = time.monotonic()
    import iot_simulator_datalake_spark.queries  # noqa: F401
    from iot_simulator_datalake_spark.session import get_spark
    if args.trace:
        instrument.install(tracer)
    ctx = Context(args, run_dir, tracer, instrument.SparkJobs)
    ctx.spark = get_spark("perfbench")
    session_s = time.monotonic() - t0

    import workloads
    try:
        res = workloads.run(ctx, args.workload)
    except workloads.Invalid as e:
        print(json.dumps({"context": context, "invalid": str(e)}))
        return 3
    from pyspark import SparkContext
    rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
    res["setup_s"] += session_s
    e2e = {k: res[k] for k in END_TO_END}
    ticks1 = cpu_ticks()
    context.update({
        "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(
            1, ticks1[0] - ticks0[0]),
        "calibration_sec": {**context["calibration_sec"],
                            "end": calibration_sec()},
        "loadavg": {**context["loadavg"], "end": loadavg()},
        "session_s": session_s, "peak_rss_mb": rss,
        "end_to_end": {**e2e, **res["detail"].pop("latency")},
        **res["detail"]})
    if args.trace:
        metrics, seconds = layer_report(ctx, res, cost)
        context["layer_seconds"] = seconds
        out_dir = HERE / "out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl"
        with open(path, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(dict(zip(
                    ("id", "name", "layer", "start", "end", "parent", "op"),
                    s))) + "\n")
        context["spans_file"] = str(path.relative_to(ROOT))
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
