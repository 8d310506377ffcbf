"""sparkclif benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload coord_cmds --seed 1 --seconds 15 --trace 0

Run it from the root of a sparkclif checkout. The seed fixes the op
list and every input the program reads; the op count is fixed by the
seed-independent workload shape and ``--seconds``, so two runs with the
same arguments do identical work. Set-up (process and session
start, input generation, warm-up) comes first, then the timed ops. The last line of stdout is
the result as JSON; the line before it (prefixed ``perfbench``) records
the run's settings and versions. With ``--trace 1`` every other op of
each shape is traced, the per-layer metrics come from the traced ops,
and the spans are written to ``.perfbench_out/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(_HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(_HERE))

WORKLOADS = ("coord_cmds", "query_batch")
# span dumps of traced runs, relative to the working directory
TRACE_OUT = ".perfbench_out"
# ops not started this many seconds after process start count as failed
DEADLINE_S = 160.0
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: minimal inputs and op counts, for the self-tests")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one output before it is checked (self-test)")
    return p.parse_args(argv)


def isolate(root: str) -> str:
    """A private scratch tree inside the checkout for everything the
    run writes: sinks and streams (SPARKCLIF_TMP), Spark shuffle files,
    Python and JVM temp files. Deleted at exit."""
    run_dir = os.path.join(root, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "pytmp", "jtmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARKCLIF_TMP"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["pytmp"]
    tempfile.tempdir = dirs["pytmp"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for k in ("SPARKCLIF_AQE", "SPARKCLIF_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    java_opts = f"-Djava.io.tmpdir={dirs['jtmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return run_dir


def task_slots() -> int:
    return len(os.sched_getaffinity(0))


def make_workload(name, seed, scale, seconds, tracer):
    if name == "coord_cmds":
        from perfbench.coord import CoordCmds as W
    else:
        from perfbench.querybatch import QueryBatch as W
    return W(seed, scale, seconds, tracer)


def warm_up(wl) -> float:
    """Run the warm-up ops once (one or more of each op kind); returns
    their CPU ms per op. CPU per op is still falling slowly after them
    (the JIT keeps improving for minutes), but a warm-up that waited for
    it to stop made set-up time bimodal; drift.op_p50_ratio shows what
    is left of the trend in the timed window."""
    from perfbench.harness import tree_cpu_s

    ops = wl.warmup_ops()
    c0 = tree_cpu_s()
    for op in ops:
        try:
            wl.execute(op)
        except Exception:
            pass  # the timed pass and the set-up checks report failures
    return (tree_cpu_s() - c0) * 1e3 / len(ops)


def timed_pass(spark, wl, t_start, bad_kinds, inject_fault=False, traced=None, counter=None):
    """Run the op list once; returns the op records and the pass's wall
    time in seconds. ``traced(i)`` says whether op i runs with spans,
    job counting and RSS sampling on."""
    from perfbench.harness import persisted_rdds, tree_rss_mb

    recs = []
    w0 = time.perf_counter()
    for i, op in enumerate(wl.ops):
        on = traced is not None and traced(i)
        rec = {"op": op, "kind": op.kind, "i": i, "ms": None, "error": None,
               "traced": on, "jobs": 0, "stages": 0, "tasks": 0}
        recs.append(rec)
        if time.perf_counter() - t_start > DEADLINE_S:
            rec["error"] = "not started: run deadline passed"
            continue
        wl.tracer.op, wl.tracer.enabled = i, on
        cached_before = persisted_rdds(spark)
        if on:
            counter.start(f"perfbench-op-{i}", op.kind)
        t0 = time.perf_counter()
        try:
            out = wl.execute(op)
        except Exception as e:  # a failed op, reported below
            out, rec["error"] = None, f"{type(e).__name__}: {e}"[:400]
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        wl.tracer.enabled = False
        if on:
            rec.update(counter.stop())
        if rec["error"] is None:
            if inject_fault and i == 0:
                out = wl.corrupt(op, out)
            rec["error"] = wl.check(op, out) or bad_kinds.get(op.kind)
        if on:
            wl.annotate(rec)
            rec["rss_mb"] = tree_rss_mb()
        rec["cached"] = persisted_rdds(spark) - cached_before
        spark.catalog.clearCache()
    return recs, time.perf_counter() - w0


def drift_ratio(recs) -> float:
    """Second-half over first-half latency, compared within op shapes
    (ops of one shape do the same work): the median over shapes seen in
    both halves of (mean latency in the second half / in the first)."""
    from perfbench.harness import median

    half = len(recs) // 2
    ratios = []
    for shape in {r["op"].shape for r in recs}:
        early = [r["ms"] for r in recs[:half] if r["op"].shape == shape and r["ms"] is not None]
        late = [r["ms"] for r in recs[half:] if r["op"].shape == shape and r["ms"] is not None]
        if early and late:
            ratios.append((sum(late) / len(late)) / (sum(early) / len(early)))
    return median(ratios)


def traced_half(ops) -> set[int]:
    """Indices of every other op of each shape, starting with the first
    occurrence for half the shapes and the second for the rest, so the
    traced and the untraced ops of a shape are interleaved."""
    parity = {shape: k % 2 for k, shape in enumerate(sorted({op.shape for op in ops}))}
    seen: dict[str, int] = {}
    out = set()
    for i, op in enumerate(ops):
        k = seen.get(op.shape, 0)
        seen[op.shape] = k + 1
        if k % 2 == parity[op.shape]:
            out.add(i)
    return out


def trace_overhead_pct(recs) -> float:
    """Traced over untraced latency, shape by shape: the sum over shapes
    with both of the mean traced latency, over the same sum of the mean
    untraced latency, minus one, in percent."""
    means = {}
    for on in (True, False):
        by_shape: dict[str, list[float]] = {}
        for r in recs:
            if r["traced"] == on and r["ms"] is not None:
                by_shape.setdefault(r["op"].shape, []).append(r["ms"])
        means[on] = {k: sum(v) / len(v) for k, v in by_shape.items()}
    both = means[True].keys() & means[False].keys()
    untraced = sum(means[False][k] for k in both)
    return (sum(means[True][k] for k in both) / untraced - 1.0) * 100.0 if untraced else 0.0


def summarize(recs, wall_s: float) -> dict:
    """Latency percentiles over every op that ran; throughput is the ops
    that ran without error over the pass's wall time."""
    from perfbench.harness import median, tail

    ran = [r for r in recs if r["ms"] is not None]
    lat = [r["ms"] for r in ran]
    value, pct, n = tail(lat)
    return {
        "op_p50_ms": median(lat),
        "op_tail_ms": value,
        "tail_percentile": pct,
        "n": n,
        "tail_kind": next((r["kind"] for r in ran if r["ms"] == value), None),
        "ops_per_s": sum(r["error"] is None for r in ran) / wall_s,
        "drift": drift_ratio(recs),
    }


def stop_spark() -> None:
    """Stop the active session, then the JVM it runs in, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, root: str, run_dir: str, t_start: float) -> int:
    from perfbench import harness
    from perfbench.harness import JobCounter, Tracer, median, tree_cpu_s, tree_rss_mb
    from perfbench.metrics import END_TO_END, PER_LAYER

    tracer = Tracer()
    wrapped = harness.install_wrappers(tracer) if args.trace else 0
    wl = make_workload(args.workload, args.seed, args.scale, args.seconds, tracer)

    import pyspark
    from sparkclif.session import get_spark

    slots = task_slots()
    t0 = time.perf_counter()
    before = harness.process_age_s()
    spark = get_spark("perfbench", cpus=slots)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.setup_inputs(spark, os.path.join(run_dir, "data"))
    t2 = time.perf_counter()
    warm_cpu = warm_up(wl)
    t3 = time.perf_counter()
    setup = {
        "setup_s": before + t3 - t0,
        "get_spark_s": before + t1 - t0,
        "inputs_s": t2 - t1,
        "warmup_s": t3 - t2,
        "warmup_cpu_ms_per_op": warm_cpu,
    }
    setup_rss = tree_rss_mb()
    t4 = time.perf_counter()
    bad_kinds = wl.verify_setup(args.inject_fault)
    setup["verify_s"] = time.perf_counter() - t4

    c0 = tree_cpu_s()
    counter = JobCounter(spark) if args.trace else None
    traced = traced_half(wl.ops).__contains__ if args.trace else None
    recs, wall_s = timed_pass(spark, wl, t_start, bad_kinds, args.inject_fault,
                              traced=traced, counter=counter)
    cpu_ms_per_op = (tree_cpu_s() - c0) * 1e3 / len(recs)
    summary = summarize(recs, wall_s)
    if args.trace:
        on = [r for r in recs if r["traced"] and r["ms"] is not None]
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(harness.generic_layer_metrics(on, tracer))
        layers.update(wl.layer_metrics(on, tracer))
        layers.update({
            "queries.cached_rdds_after_op": sum(r["cached"] for r in recs) / len(recs),
            "session.get_spark_s": setup["get_spark_s"],
            "session.warmup_s": setup["warmup_s"],
            "proc.peak_rss_mb": max([setup_rss] + [r.get("rss_mb", 0.0) for r in on]),
            "proc.cpu_ms_per_op": cpu_ms_per_op,
            "drift.op_p50_ratio": summary["drift"],
            "trace.overhead_pct": trace_overhead_pct(recs),
        })
        spans_file = os.path.join(TRACE_OUT, f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        tracer.dump(os.path.join(root, spans_file))

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    stop_spark()

    failed = [r for r in recs if r["error"] is not None]
    for r in failed[:5]:
        print(f"perfbench: failed op {r['i']} ({r['kind']}): {r['error']}", file=sys.stderr)
    for kind, problem in bad_kinds.items():
        print(f"perfbench: set-up check failed for {kind}: {problem}", file=sys.stderr)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_task_slots": slots,
        "ops": len(recs),
        "op_counts": _counts(recs),
        "kind_p50_ms": {
            k: median([r["ms"] for r in recs if r["kind"] == k and r["ms"] is not None])
            for k in _counts(recs)
        },
        "tail_percentile": summary["tail_percentile"],
        "tail_n": summary["n"],
        "tail_kind": summary["tail_kind"],
        "drift_op_p50_ratio": summary["drift"],
        "cpu_ms_per_op": cpu_ms_per_op,
        "setup": setup,
        "functions_wrapped": wrapped,
        "spans_file": spans_file if args.trace else None,
        "versions": {
            "spark": pyspark.__version__,
            "java": java,
            "python": platform.python_version(),
        },
        **wl.details(),
    }
    print("perfbench " + json.dumps(details, default=str))
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup["setup_s"],
            "op_p50_ms": summary["op_p50_ms"],
            "op_tail_ms": summary["op_tail_ms"],
            "ops_per_s": summary["ops_per_s"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _counts(recs) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in recs:
        out[r["kind"]] = out.get(r["kind"], 0) + 1
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkclif", "__init__.py")):
        print("perfbench: no sparkclif/ package in the working directory; "
              "run from the root of a sparkclif checkout", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing is randomized per interpreter, and with it the
        # iteration order of sets; identical runs then split into two
        # speed groups ~17% apart. Pin it (the Python workers inherit
        # it) by re-running this process in place.
        os.execve(sys.executable, [sys.executable] + sys.argv, {**os.environ, "PYTHONHASHSEED": "0"})
    sys.path.insert(0, root)
    run_dir = isolate(root)
    try:
        return run(args, root, run_dir, t_start)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
