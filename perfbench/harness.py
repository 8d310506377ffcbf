"""Measurement plumbing shared by the workloads: process-tree CPU and
RSS sampling, Spark job/stage/task counting, an in-memory span tracer
that wraps the program's public functions, and the summary statistics.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- process tree --------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields resume after the last ')'
        fields = raw[raw.rfind(")") + 2:].split()
        table[int(d)] = (int(fields[1]), fields)
    return table


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _f) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used by this process and every descendant (the Spark
    JVM and its Python workers), including reaped children."""
    table = _proc_table()
    total = 0
    for pid in _tree(table, os.getpid()):
        f = table[pid][1]
        # utime, stime, cutime, cstime: fields 14-17 of stat, 1-based
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_rss_mb() -> float:
    table = _proc_table()
    return sum(int(table[p][1][21]) for p in _tree(table, os.getpid())) * _PAGE / 2**20


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total


# ---- Spark job accounting ------------------------------------------------

class JobCounter:
    """Jobs, stages and tasks run between ``start()`` and ``stop()``.

    Each op runs under its own job group; the counts come from the
    status tracker by job id, so jobs that streaming queries launch on
    their own threads (and job groups) are counted too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._first = 0

    def start(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)
        self._first = self._dag.numTotalJobs()

    def stop(self) -> dict[str, int]:
        last = self._dag.numTotalJobs()
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stages = tasks = 0
        for jid in range(self._first, last):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": last - self._first, "stages": stages, "tasks": tasks}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---- tracing ---------------------------------------------------------------

class Tracer:
    """Spans kept in memory: (op, layer, name, start, end, parent). A
    layer's self time is its span time minus the time its child spans
    cover. While ``enabled`` is off the wrappers stay in place but record
    nothing, so untraced ops pay only a flag check."""

    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self.op = -1

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with _Span(tracer, layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self) -> dict[str, float]:
        """Self time per layer in ms, summed over all spans."""
        child_ms: dict[int, float] = {}
        for _op, _layer, _n, s, e, parent in self.spans:
            if parent is not None:
                child_ms[parent] = child_ms.get(parent, 0.0) + (e - s) * 1e3
        out: dict[str, float] = {}
        for i, (_op, layer, _n, s, e, _p) in enumerate(self.spans):
            out[layer] = out.get(layer, 0.0) + (e - s) * 1e3 - child_ms.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, (op, layer, name, s, e, parent) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "op": op, "layer": layer, "name": name,
                         "start": s, "end": e, "parent": parent}
                    )
                    + "\n"
                )


class _Span:
    __slots__ = ("t", "layer", "name", "idx")

    def __init__(self, tracer, layer, name):
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            self.idx = None
            return self
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append((t.op, self.layer, self.name, time.perf_counter(), None, parent))
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is None:
            return False
        t = self.t
        op, layer, name, s, _e, parent = t.spans[self.idx]
        t.spans[self.idx] = (op, layer, name, s, time.perf_counter(), parent)
        t._stack.pop()
        return False


# (module prefix, layer name) for the wrapped public functions; operator
# modules get one layer each, so their self time is reported per module
LAYER_PACKAGES = [
    ("sparkclif.operators", "operators.build"),
    ("sparkclif.clif", "clif"),
    ("sparkclif.streaming", "streaming"),
]


def _layer_modules():
    import sparkclif.io

    yield sparkclif.io, "io", {"table"}
    for pkg_name, layer in LAYER_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            name = f"{layer}.{info.name}" if layer == "operators.build" else layer
            yield mod, name, None


def install_wrappers(tracer: Tracer) -> int:
    """Wrap every public function of the io, operators, clif and
    streaming layers, then rebind each ``from ... import`` copy of it in
    every loaded ``sparkclif`` module, so calls between layers pass
    through the wrappers too. Returns the number of functions wrapped."""
    from sparkclif.registry import all_queries

    all_queries()  # imports every query module first
    wrapped: dict[int, object] = {}
    for mod, layer, only in list(_layer_modules()):
        for name, fn in list(vars(mod).items()):
            if (
                not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
                or name.startswith("_")
                or (only is not None and name not in only)
            ):
                continue
            w = tracer.wrap(layer, fn)
            wrapped[id(fn)] = w
            setattr(mod, name, w)
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith("sparkclif") or mod is None:
            continue
        for name, val in list(vars(mod).items()):
            w = wrapped.get(id(val))
            if w is not None and inspect.isfunction(val):
                setattr(mod, name, w)
    return len(wrapped)


def generic_layer_metrics(recs: list[dict], tracer: Tracer) -> dict[str, float]:
    """Per-op self time of the io and operator layers over the traced
    ops ``recs``; every workload reports these."""
    from perfbench.metrics import OPERATOR_MODULES

    n = max(1, len(recs))
    ms = tracer.self_ms()
    out = {"io.table_ms": ms.get("io", 0.0) / n}
    for m in OPERATOR_MODULES:
        out[f"operators.build_ms.{m}"] = ms.get(f"operators.build.{m}", 0.0) / n
    return out


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    returns (value, percentile, n). With n samples the value is the
    (n-10)-th order statistic, i.e. the percentile 100*(n-10)/n."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100.0, n
    k = n - 11  # ten samples strictly above index k
    return xs[k], round(100.0 * (k + 1) / n, 2), n
