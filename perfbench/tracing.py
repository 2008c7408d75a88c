"""Spans and counters for the traced run (``--trace 1``).

Wrappers are installed at run time around the package's public functions;
the package itself is not modified. Each span records (id, parent, op id,
name, thread, start, end, attrs); spans stay in memory and are written out
when the run ends. Counters that Spark keeps itself (jobs, stage shuffle
bytes, GC time) are read over py4j at the loop boundaries, not per call.

In a traced run the harness switches recording on for every other op, so
the same run yields traced and untraced latencies; their difference is the
tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time

PACKAGE = "cassaforte_meter_transmission_gen_spark"

#: (module, attribute, span name) of the wrapped module-level functions
FUNCTIONS = (
    ("sources.meter_generator", "transmissions", "meter_generator.transmissions"),
    ("sources.meter_generator", "meter_samples_second", "meter_generator.meter_samples_second"),
    ("sources.layout", "write_time_partitioned", "layout.write_time_partitioned"),
    ("sources.layout", "read_meter_time_range", "layout.read_meter_time_range"),
    ("operators.rollups", "rollup_from_second", "rollups.rollup_from_second"),
    ("operators.rollups", "counter_merge", "rollups.counter_merge"),
    ("operators.rollups", "routed_energy_report", "rollups.routed_energy_report"),
    ("operators.rollups", "choose_source_grain", "rollups.choose_source_grain"),
    ("operators.ingest", "ingest_batch", "ingest.ingest_batch"),
)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's ``_SUCCESS``/``.crc`` excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Tracer:
    """Span recorder. ``active`` gates recording; wrappers stay installed."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._op_span: int | None = None
        self._op_start = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def start_op(self, op: int, active: bool) -> None:
        """Open the root span of op ``op``; spans on threads with no open
        span of their own (driver pool threads) become its children."""
        self.op_id = op
        self.active = active
        self._op_span = next(self._ids)
        self._op_start = time.perf_counter()

    def end_op(self) -> None:
        if self.active:
            self._append(self._op_span, None, "op", self._op_start, {})
        self.active = False

    def _append(self, sid: int, parent: int | None, name: str, start: float, attrs: dict) -> None:
        span = {
            "id": sid,
            "parent": parent,
            "op": self.op_id,
            "name": name,
            "thread": threading.get_ident(),
            "start": start,
            "end": time.perf_counter(),
            "attrs": attrs,
        }
        with self._lock:
            self.spans.append(span)

    def record(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; returns (result, attrs dict)."""
        attrs: dict = {}
        if not self.active:
            return fn(*args, **kwargs), attrs
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        stack.append(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs), attrs
        finally:
            stack.pop()
            self._append(sid, parent, name, start, attrs)

    # -- wrappers ---------------------------------------------------------

    def _patch_everywhere(self, orig, replacement) -> None:
        """Replace ``orig`` in every loaded package module that holds it
        (``from x import f`` copies the reference into the importer)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, orig))

    def install(self) -> None:
        import importlib

        from pyspark.sql import DataFrameWriter

        for mod_name, attr, span in FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, attr)
            self._patch_everywhere(orig, self._wrap(orig, span))

        sink_cls = importlib.import_module(f"{PACKAGE}.io").ParquetSink
        orig_write = sink_cls.write
        tracer = self

        @functools.wraps(orig_write)
        def sink_write(sink, df, table, mode="overwrite"):
            return tracer.record("io.parquet_sink_write", orig_write, sink, df, table, mode)[0]

        sink_cls.write = sink_write
        self._patched.append((sink_cls, "write", orig_write))

        orig_parquet = DataFrameWriter.parquet

        @functools.wraps(orig_parquet)
        def writer_parquet(writer, path, *args, **kwargs):
            result, attrs = tracer.record("spark.parquet_write", orig_parquet, writer, path, *args, **kwargs)
            if tracer.active:
                attrs["path"] = path
                attrs["bytes"], attrs["files"] = dir_size(path)
            return result

        DataFrameWriter.parquet = writer_parquet
        self._patched.append((DataFrameWriter, "parquet", orig_parquet))

    def _wrap(self, orig, span: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            result, attrs = tracer.record(span, orig, *args, **kwargs)
            if tracer.active and span == "rollups.choose_source_grain":
                attrs["grain"] = result
            if tracer.active and span == "layout.write_time_partitioned":
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                attrs["bytes"], attrs["files"] = dir_size(path)
            return result

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Cumulative counters Spark keeps itself, read over py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001 - status store access

    def snapshot(self) -> dict:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(None))
        executors = self._jsc.statusStore().executorList(False)
        shuffle = sum(executors.apply(i).totalShuffleWrite() for i in range(executors.size()))
        mgmt = self.spark._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
        gcs = mgmt.getGarbageCollectorMXBeans()
        gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
        return {
            "max_job_id": max(jobs) if jobs else -1,
            "shuffle_write_bytes": shuffle,
            "gc_ms": gc_ms,
        }


def scan_metrics(df) -> list[dict]:
    """Metric maps of every file scan in the executed plan of ``df`` (call
    after an action on ``df``)."""
    out: list[dict] = []

    def walk(node) -> None:
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        if "Scan" in name:
            m = node.metrics()
            keys = m.keys().iterator()
            d = {}
            while keys.hasNext():
                k = keys.next()
                d[k] = m.apply(k).value()
            out.append(d)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return out
