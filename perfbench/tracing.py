"""Spans, self time, percentiles and Spark SQL metrics for the benchmark.

Tracing is done from outside the package: ``Tracer.install`` replaces the
driver-side entry points of each package module (and ``DataFrame.collect``
and ``DataFrameReader.load``) with wrappers that record a span per call. Spark's per-execution SQL
metrics are read from the session's status store, which is kept even with
the Spark UI disabled, and become leaf spans under the call that ran them.
"""

from __future__ import annotations

import dataclasses
import functools
import math
import re
import sys
import time
from dataclasses import dataclass

# Driver-side entry points traced per layer: {layer: (module, [functions])}.
# Only functions that run on the driver are listed; kernels that run inside
# Python workers are pickled by reference and stay untouched there.
TRACED = {
    "session": ("n5_dask_spark.session", ["get_spark", "tune_session", "ensure_package_on_executors"]),
    "catalog": ("n5_dask_spark.catalog", ["load_table", "load_tables"]),
    "metadata": (
        "n5_dask_spark.sources.n5.metadata",
        ["read_attributes", "write_attributes", "update_raw_attributes"],
    ),
    "reader": ("n5_dask_spark.sources.n5.reader", ["scan_block_files", "decoded_blocks", "read_region"]),
    "datasource": ("n5_dask_spark.sources.n5.datasource", ["register_n5_source"]),
    "transforms": (
        "n5_dask_spark.sources.n5.transforms",
        ["rechunk", "downsample", "build_multiscale", "cast_blocks"],
    ),
    "fuse": ("n5_dask_spark.sources.n5.fuse", ["consume_block_rows", "transform_blocks"]),
    "writer": (
        "n5_dask_spark.sources.n5.writer",
        ["write_blocks", "write_array", "claim_dataset_write", "release_dataset_write"],
    ),
    "tiff": ("n5_dask_spark.sources.tiff", ["tif_series_to_n5", "n5_to_tif_series", "tif_series_scan"]),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    job: str | None


class Tracer:
    """In-memory span recorder. Spans of one benchmark job share ``job``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self.job: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), math.nan, parent, self.job))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def add_leaf(self, name: str, layer: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append(Span(name, layer, start, end, parent, self.job))

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(f"{layer}.{fn.__name__}", layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def install(self) -> None:
        """Wrap every TRACED function wherever the package holds a reference
        to it (modules bind imported names at import time), every registered
        query function, DataFrame.collect (the action every package path
        ends in) and DataFrameReader.load (where Spark lists files or plans
        a DataSource)."""
        try:  # Spark 4 keeps the classic implementation in its own class
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        originals = {}
        for layer, (modname, names) in TRACED.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, self.wrap(layer, fn))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("n5_dask_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, hit[1])
        from n5_dask_spark import registry

        registry.load_all()
        for name, q in list(registry.REGISTRY.items()):
            registry.REGISTRY[name] = dataclasses.replace(q, fn=self.wrap("registry", q.fn))
        from pyspark.sql import DataFrameReader

        for owner, attr, layer in ((DataFrame, "collect", "spark"), (DataFrameReader, "load", "spark.load")):
            fn = getattr(owner, attr)
            self._undo.append((owner, attr, fn))
            setattr(owner, attr, self.wrap(layer, fn))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in children.get(i, [])]
        covered = union_length([(lo, hi) for lo, hi in clipped if hi > lo])
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def tail(samples: list[float]) -> tuple[float, float] | None:
    """Highest nearest-rank percentile with at least ten samples above it:
    (percentile, value), or None when there are too few samples."""
    n = len(samples)
    k = n - 10
    if k < 1:
        return None
    return 100.0 * k / n, sorted(samples)[k - 1]


# --------------------------------------------------------------------------
# Spark SQL metrics from the status store

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
SQL_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_to",
    "data returned from Python workers": "python_bytes_from",
    "shuffle bytes written": "shuffle_write_bytes",
}


def parse_metric(text: str) -> float:
    """Spark's formatted metric value -> seconds / bytes / count.
    Aggregated forms read 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed Spark metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SqlExecutions:
    """Reads SQL executions completed since the previous call."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self.store.executionsCount()
        # perf_counter <-> epoch-ms offset, to place executions on span time
        self.offset = time.time() - time.perf_counter()

    def drain(self, timeout: float = 10.0) -> list[dict]:
        n = self.store.executionsCount()
        execs = self.store.executionsList(self.seen, n - self.seen)
        self.seen = n
        out = []
        tracker = self.spark.sparkContext.statusTracker()
        for i in range(execs.size()):
            e = execs.apply(i)
            deadline = time.time() + timeout
            while e.completionTime().isEmpty() and time.time() < deadline:
                time.sleep(0.01)
                e = self.store.execution(e.executionId()).get()
            if e.completionTime().isEmpty():
                continue
            names = {}
            it = e.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                if pm.name() in SQL_METRICS:
                    names[pm.accumulatorId()] = SQL_METRICS[pm.name()]
            rec = dict.fromkeys(SQL_METRICS.values(), 0.0)
            it = self.store.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key is not None:
                    rec[key] += parse_metric(kv._2())
            tasks = 0
            stages = e.stages().iterator()
            while stages.hasNext():
                info = tracker.getStageInfo(stages.next())
                tasks += info.numCompletedTasks if info is not None else 0
            rec["tasks"] = tasks
            rec["start"] = e.submissionTime() / 1000.0 - self.offset
            rec["end"] = e.completionTime().get().getTime() / 1000.0 - self.offset
            out.append(rec)
        return out
