"""Spans recorded around calls into the program's layers.

Everything here wraps the program from outside: a ``Catalog`` subclass
handed to ``ModelRunner``, ``Model`` copies whose ``fn`` is timed and a
timed stand-in for ``plans.testing.run_tests``. Spark jobs
are attributed to spans through the job group each span sets, read back
from the Spark event log after the session stops.

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import time
from collections import defaultdict

from dbt_repo_spark.sources.catalog import Catalog


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict


class Tracer:
    """Records spans when enabled; otherwise every call is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self.model: str | None = None  # model whose build is in progress

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        if self.model is not None:
            attrs.setdefault("model", self.model)
        rec = Span(sid, name, 0.0, 0.0, parent, self.op, attrs)
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        t1 = time.perf_counter()
        rec.start = t1
        try:
            yield attrs
        finally:
            t2 = time.perf_counter()
            rec.end = t2
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"span-{self.stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += (t1 - t0) + (time.perf_counter() - t2)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [dataclasses.asdict(s) for s in self.spans],
                       **extra}, fh)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class TracingCatalog(Catalog):
    """``Catalog`` whose reads, writes and existence checks are spans.
    A write records the files, bytes and rows it added to the table."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def exists(self, layer, name):
        with self.tracer.span("catalog.exists", table=name):
            return super().exists(layer, name)

    def read(self, layer, name, *args, **kwargs):
        with self.tracer.span("catalog.read", table=name):
            return super().read(layer, name, *args, **kwargs)

    def write(self, df, layer, name, *args, **kwargs):
        path = self.path(layer, name)
        before = set(parquet_files(path))
        with self.tracer.span("catalog.write", table=name) as attrs:
            super().write(df, layer, name, *args, **kwargs)
        t0 = time.perf_counter()
        new = [p for p in parquet_files(path) if p not in before]
        attrs.update(files=len(new), bytes=sum(os.path.getsize(p) for p in new),
                     rows=parquet_rows(new))
        self.tracer.self_s += time.perf_counter() - t0


def traced_models(models, tracer: Tracer):
    """Copies of ``models`` whose builder call is a span."""

    def wrap(m):
        def fn(ctx):
            tracer.model = m.name
            with tracer.span("runner.model_build", model=m.name):
                return m.fn(ctx)

        return dataclasses.replace(m, fn=fn)

    return [wrap(m) for m in models]


@contextlib.contextmanager
def traced_tests(tracer: Tracer):
    """Time ``plans.testing.run_tests`` (the runner imports it per call)."""
    from dbt_repo_spark.plans import testing

    orig = testing.run_tests

    def run_tests(df, spec, *args, **kwargs):
        with tracer.span("testing.run_tests") as attrs:
            results = orig(df, spec, *args, **kwargs)
        attrs.update(run=len(results),
                     failed=sum(1 for r in results if not r.passed))
        return results

    if tracer.enabled:
        testing.run_tests = run_tests
    try:
        yield
    finally:
        testing.run_tests = orig


# ------------------------------------------------------------- event log

_TASK_KEYS = {
    "Executor Run Time": "executor_run_ms",
    "Executor CPU Time": "executor_cpu_ns",
    "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "spill_bytes",
    "Disk Bytes Spilled": "spill_bytes",
}


def spark_counters(eventlog_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks and task metrics
    summed from the Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(eventlog_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "none"
                    c = out[group]
                    c["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                        c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "none")
                    c = out[group]
                    c["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        c["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    for k, dst in _TASK_KEYS.items():
                        c[dst] += m.get(k, 0) or 0
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
    return out
