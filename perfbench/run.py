"""Benchmark of the df_spark engine.

    python3 perfbench/run.py --workload curation|wire --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``BENCHMARK.json``):

- ``curation`` (curation.py): the LLM data-curation batch job on a
  seeded corpus that looks like real text;
- ``wire`` (wire.py): one closed-loop client driving
  ``df_spark.server`` over its JSON-over-HTTP protocol.

A run sets up once (session start, inputs, oracle answers, warm-up),
then repeats passes until ``--seconds`` have gone by and the workload
has its minimum number of passes and samples. The inputs are made three
times and the median of those three times is the input part of
``setup_s``; the three copies must be byte-identical.

``pass_s`` and ``pass_cpu_s`` are the least over the run's passes. On a
shared virtual machine co-tenants steal CPU time (10-20 s a minute was
measured on a 4-vCPU VM); a pass they slow down only ever reads higher,
so the fastest pass is the steadiest estimate of what the program
costs. Steal, GC and JIT time are printed beside the result to explain
a noisy run; they never adjust a metric.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` it carries the per-layer metrics instead: the
workload's usual passes run untraced; one more records spans around
every call (written to ``.perfbench/traces/``) and reads Spark's status
store after each call. ``trace.overhead_s`` is the traced minus the
untraced pass time. Every metric named in ``BENCHMARK.json`` is
printed; a per-layer metric of the other workload reads 0.

Everything the run writes stays under ``.perfbench/`` in the
repository root; its per-run directory is removed at exit. The exit
code is 0 only when a result line was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import tracing  # noqa: E402

INPUT_REPEATS = 3
# the session's default heap is 48g; both workloads fit in 1g, and a
# small heap keeps the machine's shared memory free and peak RSS steady
DRIVER_MEM = "1g"
CALL_METRICS = [
    "wall_s", "exec_cpu_s", "exec_run_s", "jobs", "stages", "tasks",
    "shuffle_mb", "spill_mb", "pyworker_cpu_s", "driver_cpu_s",
]


def pin_env(work: str) -> dict[str, str]:
    """The launch environment every run gets, whatever the caller's."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        # the session defaults to 32 slots and 32 shuffle partitions
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # pandas/Arrow workers must be able to import df_spark
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Context:
    """What a pass sees: timing, correctness tallies, and, when traced,
    spans and status-store totals per call."""

    def __init__(self, tracer: tracing.Tracer, meter) -> None:
        self.tracer = tracer
        self.meter = meter
        self.attempted = 0
        self.failed = 0
        self.sessions = 0
        self.calls: dict[str, dict[str, list[float]]] = {}
        # per-layer values a workload sets during a pass; the last pass wins
        self.snapshot: dict[str, float] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def call(self, name: str, fn):
        """Run ``fn`` as one call into the program; returns (result, error)."""
        out = err = None
        with self.tracer.span(name):
            if self.traced:
                c0 = procstat.cpu()
                self.meter.begin(name)
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                err = f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
            if self.traced:
                totals = self.meter.end()
                c1 = procstat.cpu()
                row = self.calls.setdefault(name, {})
                vals = totals.as_dict()
                vals["wall_s"] = wall
                vals["pyworker_cpu_s"] = c1.pyworker - c0.pyworker
                vals["driver_cpu_s"] = (c1.jvm - c0.jvm) - totals.exec_cpu_s
                for k, v in vals.items():
                    row.setdefault(k, []).append(float(v))
        return out, err

    def record(self, op: str, err: str | None) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            print(f"FAILED {op}: {err}", file=sys.stderr)


def make_workload(name: str, seed: int):
    if name == "curation":
        from curation import Curation

        return Curation(seed)
    from wire import Wire

    return Wire(seed)


def measure(args, work: str, state: str) -> tuple[dict, dict, Context]:
    t_setup = time.perf_counter()
    from df_spark.session import get_spark

    from sparkstats import StageMeter, jvm_gc_jit_s

    wl = make_workload(args.workload, args.seed)
    spark = get_spark(
        "perfbench", short_lived=True,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    session_s = time.perf_counter() - t_setup
    input_s = []
    for i in range(INPUT_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs(os.path.join(work, f"inputs{i}"))
        input_s.append(time.perf_counter() - t0)
    wl.start(spark, state)
    t0 = time.perf_counter()
    wl.warm_up(Context(tracing.Tracer(False), None))
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + median(input_s) + warmup_s

    tracer = tracing.Tracer(False)
    ctx = Context(tracer, StageMeter(spark) if args.trace else None)
    pass_meter = StageMeter(spark) if args.trace else None
    wl.begin_measure()
    gc0, jit0 = jvm_gc_jit_s(spark)
    steal0 = procstat.steal_s()
    walls, cpus, traced_walls, pass_totals = [], [], [], []
    t_start = time.perf_counter()
    while True:
        enough = len(walls) >= wl.min_passes + args.trace and wl.enough()
        if enough and time.perf_counter() - t_start >= args.seconds:
            break
        # the first passes of a traced run are untraced, for the overhead
        tracer.enabled = bool(args.trace) and len(walls) >= wl.min_passes
        c0 = procstat.cpu().total
        if tracer.enabled:
            pass_meter.begin(f"pass{len(walls)}")
        t0 = time.perf_counter()
        with tracer.span("pass", trace=f"pass{len(walls)}"):
            wl.run_pass(ctx)
        wall = time.perf_counter() - t0
        if tracer.enabled:
            pass_totals.append(pass_meter.end())
            traced_walls.append(wall)
        walls.append(wall)
        cpus.append(procstat.cpu().total - c0)
    gc1, jit1 = jvm_gc_jit_s(spark)
    n = len(walls)
    diag = {
        "passes": n,
        "pass_walls": walls,
        "jvm.gc_s": (gc1 - gc0) / n,
        "jvm.jit_s": (jit1 - jit0) / n,
        "host.steal_s": procstat.steal_s() - steal0,
        "host.load1": os.getloadavg()[0],
        "setup.session_s": session_s,
        "setup.inputs_s": median(input_s),
        "setup.warmup_s": warmup_s,
    }
    e2e = {
        "setup_s": setup_s,
        "pass_s": min(walls),
        "pass_cpu_s": min(cpus),
        "peak_rss_mb": procstat.peak_rss_mb(),
        "ok_frac": (ctx.attempted - ctx.failed) / max(1, ctx.attempted),
    }
    layers = {k: diag[k] for k in ("jvm.gc_s", "jvm.jit_s", "host.steal_s", "host.load1")}
    if args.trace:
        layers["trace.overhead_s"] = min(traced_walls) - min(walls[:-len(traced_walls)])
        selfs = tracer.self_times()
        layers["pass.self_s"] = median(
            [selfs[sp.id] for sp in tracer.spans if sp.name == "pass"])
        for call, vals in ctx.calls.items():
            for k in CALL_METRICS:
                layers[f"{call}.{k}"] = median(vals[k])
        layers.update(ctx.snapshot)
        layers.update(wl.layers(pass_totals, tracer, selfs))
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            state, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
    wl.finish(ctx)
    return e2e, {"diag": diag, "layers": layers}, ctx


def shutdown() -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    kids = procstat.descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 — shutting down regardless
            traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    procstat.wait_gone(kids, timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("curation", "wire"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "df_spark")):
        print(f"no df_spark package under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    prev_cwd = os.getcwd()
    os.chdir(work)  # stray relative outputs (spark-warehouse, derby) land here
    try:
        e2e, extra, ctx = measure(args, work, state)
    finally:
        try:
            shutdown()
        finally:
            os.chdir(prev_cwd)
            shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = extra["layers"] if args.trace else e2e
    own = extra["layers"].keys() if args.trace else e2e.keys()
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    unknown = set(own) - set(metrics)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print("env " + json.dumps(env, sort_keys=True))
    print("diagnostics " + json.dumps(extra["diag"], sort_keys=True))
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
