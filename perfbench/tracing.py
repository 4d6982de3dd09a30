"""Tracing from outside the package: spans around calls into each layer,
Spark job/stage/task counts per operation, SQL plan-node metrics, and
JVM log lines attributed to the operation that was running.

Spans are recorded only while ``Tracer.active`` is set; otherwise the
wrappers call straight through.  Spans are kept in memory; the runner
folds each traced pass's spans into its per-layer metrics.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager

#: Package layers whose functions are wrapped where another module imports
#: them.  ``queries`` and ``exec`` spans come from the runner itself.
WRAPPED_LAYERS = ("sources", "plans", "streaming", "operators")
PACKAGE = "aws_etl_fiap_spark"

_EXCHANGE = re.compile(r"^[\s:|+-]*(?:Broadcast)?Exchange\b", re.M)
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Span:
    __slots__ = ("name", "op", "start", "end", "parent", "child_s")

    def __init__(self, name: str, op: str | None, parent: Span | None):
        self.name, self.op, self.parent = name, op, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.child_s = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.op: str | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.duration
            self.spans.append(s)

    def take(self) -> list[Span]:
        """Hand over and forget the spans recorded so far."""
        out, self.spans = self.spans, []
        return out

    # -- wrapping at import sites -------------------------------------------

    def _wrapper(self, fn, span_name: str, site, attr: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        traced.__wrapped__ = fn
        # Pickled by reference to the import site, where a Python worker
        # finds the unwrapped original.
        traced.__module__ = site.__name__
        traced.__qualname__ = attr
        return traced

    def install(self) -> int:
        """Wrap every package function of a WRAPPED_LAYERS module at each
        site that imports it (including ``readers.spread_input``, which
        several modules import inside function bodies).  Returns the
        number of wrapped names."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            importlib.import_module(info.name)
        sites = [m for name, m in list(sys.modules.items()) if name.startswith(PACKAGE + ".")]
        n = 0
        for site in sites:
            for attr, fn in list(vars(site).items()):
                if not isinstance(fn, types.FunctionType):
                    continue
                layer = _layer_of(fn.__module__)
                if layer is None or fn.__module__ == site.__name__:
                    continue
                setattr(site, attr, self._wrapper(fn, _span_name(fn), site, attr))
                n += 1
        readers = importlib.import_module(PACKAGE + ".sources.readers")
        spread = readers.spread_input
        readers.spread_input = self._wrapper(spread, _span_name(spread), readers, "spread_input")
        return n + 1


def _layer_of(module: str) -> str | None:
    parts = module.split(".")
    if len(parts) >= 3 and parts[0] == PACKAGE and parts[1] in WRAPPED_LAYERS:
        return parts[1]
    return None


def _span_name(fn) -> str:
    return ".".join(fn.__module__.split(".")[1:] + [fn.__name__])


def layer(span_name: str) -> str:
    return span_name.split(".", 1)[0]


# -- Spark statistics ----------------------------------------------------------


def count_exchanges(plan_string: str) -> int:
    """Shuffle and broadcast exchanges in a physical plan string (reused
    exchanges are not counted: they move no data again)."""
    return len(_EXCHANGE.findall(plan_string))


def _number(value: str) -> float:
    """Parse a SQL metric display string: ``"60,000"``, ``"1018.0 KiB"`` or
    the multi-task ``"total (min, med, max ...)\\n1.2 MiB (...)"`` form."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    tokens = value.replace(",", "").split()
    num = float(tokens[0])
    if len(tokens) > 1 and tokens[1] in _SIZE_UNITS:
        num *= _SIZE_UNITS[tokens[1]]
    return num


class SparkStats:
    """Reads job, stage and task counts from ``statusTracker`` and per-node
    SQL metrics from the SQL status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.last_execution = self._latest_execution()

    def _latest_execution(self) -> int:
        n = self._store.executionsCount()
        if n == 0:
            return -1
        return self._store.executionsList(int(n - 1), 1).apply(0).executionId()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def new_executions(self) -> dict[str, float]:
        """Sum the plan-node metrics of every SQL execution started since the
        previous call."""
        out = defaultdict(float)
        store = self._store
        n = store.executionsCount()
        i = n - 1
        ids = []
        while i >= 0:
            eid = store.executionsList(int(i), 1).apply(0).executionId()
            if eid <= self.last_execution:
                break
            ids.append(eid)
            i -= 1
        if ids:
            self.last_execution = max(ids)
        for eid in ids:
            values = self._to_java(store.executionMetrics(eid))
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    metric = m.name()
                    if metric not in _FOLDED:
                        continue
                    raw = values.get(m.accumulatorId())
                    if raw is not None:
                        _fold(out, name, metric, _number(raw))
        return dict(out)


_FOLDED = frozenset({
    "spill size", "shuffle bytes written", "data sent to Python workers",
    "number of output rows", "size of files read",
})


def _fold(out, node: str, metric: str, value: float) -> None:
    if metric == "spill size":
        out["spill_bytes"] += value
    elif metric == "shuffle bytes written":
        out["shuffle_bytes"] += value
    elif metric == "data sent to Python workers":
        out["python_bytes"] += value
    elif node.startswith("Scan parquet"):
        if metric == "number of output rows":
            out["scan_rows"] += value
        elif metric == "size of files read":
            out["scan_bytes"] += value
    elif ("Join" in node or node == "CartesianProduct") and metric == "number of output rows":
        out["join_rows_max"] = max(out["join_rows_max"], value)


# -- JVM log capture -----------------------------------------------------------


class StderrCapture:
    """Routes file descriptor 2 — inherited by the JVM launched after
    ``start`` — into a pipe.  A reader thread appends every line to a log
    file and counts WARN/ERROR lines against the operation named by
    ``tracer.op`` when the line arrives."""

    _LEVEL = re.compile(r"\b(WARN|ERROR)\b")

    def __init__(self, tracer: Tracer, log_path: str) -> None:
        self.tracer = tracer
        self.log_path = log_path
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self._lock = threading.Lock()
        self._saved = None
        self._thread = None

    def start(self) -> None:
        read_fd, write_fd = os.pipe()
        self._saved = os.dup(2)
        os.dup2(write_fd, 2)
        os.close(write_fd)
        self._thread = threading.Thread(target=self._pump, args=(read_fd,), daemon=True)
        self._thread.start()

    def _pump(self, read_fd: int) -> None:
        with os.fdopen(read_fd, "rb") as src, open(self.log_path, "ab") as log:
            for line in src:
                log.write(line)
                m = self._LEVEL.search(line.decode("utf-8", "replace"))
                if m:
                    with self._lock:
                        self.counts[(self.tracer.op or "-", m.group(1))] += 1

    def stop(self) -> None:
        """Restore fd 2; the reader ends once every process holding the
        pipe (the JVM and its Python workers) has exited."""
        if self._saved is None:
            return
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._saved = None
        self._thread.join(timeout=10)

    def take(self) -> dict[tuple[str, str], int]:
        with self._lock:
            out, self.counts = dict(self.counts), defaultdict(int)
        return out


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and of the JVM child."""
    out = {}
    for name, pid in (("python", "self"), ("jvm", jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        out[name] = kib / 1024.0
    return out
