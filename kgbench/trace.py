"""Span tracing for the benchmark's traced runs.

A span wraps one call into a layer of the package. It tags every Spark
job started inside it with its own job group, so after the traced
operation the figures Spark keeps in its status stores (these work with
`spark.ui.enabled=false`) can be attributed to the span: stage task
time and CPU, shuffle and spill bytes, the stages' active time, and the
SQL metrics of the Python-boundary plan nodes. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import ParquetCatalog

# Plan nodes where rows cross the Arrow boundary into Python workers
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython", "MapInArrow")
_PY_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "time to run Python workers": "worker_s",
    "time to start Python workers": "boot_s",
}
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '12.5 KiB', or the
    'total (min, med, max ...)\\n3.2 s (...)' form, in bytes / seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt(o, default=None):
    return o.get() if o is not None and o.isDefined() else default


class Tracer:
    """In-memory spans plus the status-store read that fills them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._n = 0
        self.op = -1
        self.counters: dict[tuple[int, str], float] = {}

    def count(self, name: str, n: float = 1) -> None:
        key = (self.op, name)
        self.counters[key] = self.counters.get(key, 0) + n

    @contextmanager
    def span(self, name: str):
        self._n += 1
        gid = f"kgbench-span-{self._n}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(gid, name)
        self._stack.append(gid)
        rec = {"id": gid, "name": name, "parent": parent, "op": self.op}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, "")
            self.spans.append(rec)

    def collect(self) -> None:
        """Fill Spark figures into the spans of the current operation.
        Called after each traced operation, so the status store's
        default retention (1000 jobs / stages / executions) always
        still holds every job of the spans being read."""
        spans = [s for s in self.spans if s["op"] == self.op and "jobs" not in s]
        if not spans:
            return
        by_group = {s["id"]: s for s in spans}
        for s in spans:
            s.update(jobs=0, stages=0, task_s=0.0, cpu_s=0.0, shuffle_bytes=0,
                     spill_bytes=0, stage_busy_s=0.0, python={}, scans=0)
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        empty = gw.jvm.java.util.ArrayList()
        job_span: dict[int, dict] = {}
        jobs = store.jobsList(None)
        it = jobs.iterator()
        while it.hasNext():
            j = it.next()
            s = by_group.get(_opt(j.jobGroup()))
            if s is None:
                continue
            job_span[j.jobId()] = s
            s["jobs"] += 1
            intervals = []
            sids = j.stageIds()
            for k in range(sids.size()):
                seq = store.stageData(sids.apply(k), False, empty, False, quantiles)
                for a in range(seq.size()):
                    sd = seq.apply(a)
                    if str(sd.status()) != "COMPLETE":
                        continue
                    s["stages"] += 1
                    s["task_s"] += sd.executorRunTime() / 1e3
                    s["cpu_s"] += sd.executorCpuTime() / 1e9
                    s["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    s["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    t0, t1 = _opt(sd.submissionTime()), _opt(sd.completionTime())
                    if t0 is not None and t1 is not None:
                        intervals.append((t0.getTime(), t1.getTime()))
            s.setdefault("_intervals", []).extend(intervals)
        for s in spans:
            s["stage_busy_s"] = _union_ms(s.pop("_intervals", [])) / 1e3
        self._collect_sql(job_span)

    def _collect_sql(self, job_span: dict[int, dict]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            keys = e.jobs().keys().iterator()
            span = None
            while keys.hasNext():
                span = job_span.get(int(keys.next()))
                if span is not None:
                    break
            if span is None:
                continue
            vals = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for i in range(nodes.size()):
                n = nodes.apply(i)
                name = n.name()
                if name.startswith("Scan "):
                    span["scans"] += 1
                if name not in PYTHON_NODES:
                    continue
                ms = n.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = _PY_METRICS.get(m.name())
                    v = vals.get(m.accumulatorId())
                    if key and v.isDefined():
                        py = span["python"]
                        py[key] = py.get(key, 0.0) + parse_metric(v.get())

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        counters = [
            {"op": op, "name": name, "value": v}
            for (op, name), v in sorted(self.counters.items())
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "counters": counters}, f, indent=1)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class TracedCatalog(ParquetCatalog):
    """ParquetCatalog whose every stage write is one span with its own
    job group, and which counts commits, bytes committed and snapshot
    reads for the catalog layer."""

    def __init__(self, root: str, spark, tracer: Tracer):
        super().__init__(root, spark)
        self.tracer = tracer

    def write(self, df, table, stage=None, **kw):
        with self.tracer.span(f"stage.{stage or table}") as rec:
            info = super().write(df, table, stage=stage, **kw)
        rec["rows"] = info.rows
        rec["bytes_written"] = _dir_bytes(
            os.path.join(self._table_dir(table), f"snapshot={info.snapshot_id}")
        )
        return info

    def read(self, table, snapshot=None):
        # a read resolves the snapshot and infers its schema: driver
        # work, and a Spark job of its own
        self.tracer.count("catalog.snapshots_read")
        with self.tracer.span("catalog.read"):
            return super().read(table, snapshot)
