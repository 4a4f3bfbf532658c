"""In-memory span recorder for the traced run, and the Spark event-log
reader that turns job groups into per-layer task metrics.

Spans are recorded from the benchmark's own files: around each public
call, and around module functions the benchmark wraps where a layer is
entered (for example `femto_spark.serving.decode_postings`, which
serving.py binds by name at import). Nothing is recorded, and nothing
is wrapped, when tracing is off.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory and
    written out once, at exit. `enabled=False` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.request])
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr with a span-recording wrapper."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        setattr(owner, attr, traced)

    def summary(self) -> dict:
        """Total seconds and calls per (span name, request kind), and the
        counters per request kind; a request id is "<kind>:<n>"."""
        spans: dict = {}
        for name, t0, t1, _p, rid in self.spans:
            key = f"{name}|{(rid or '').split(':')[0]}"
            s, n = spans.get(key, (0.0, 0))
            spans[key] = (s + (t1 - t0), n + 1)
        counts: dict = defaultdict(float)
        for k, v in self.counts.items():
            rid, what = k.split("|")
            counts[f"{rid.split(':')[0]}|{what}"] += v
        return {"spans": spans, "counts": counts}

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class CountingDataset:
    """Stands in for a pyarrow dataset: forwards everything, and records
    each scan (to_table / to_batches) as a `storage.read` span."""

    def __init__(self, ds, tracer: Tracer):
        self._ds = ds
        self._tracer = tracer

    def to_table(self, *a, **k):
        with self._tracer.span("storage.read"):
            return self._ds.to_table(*a, **k)

    def to_batches(self, *a, **k):
        with self._tracer.span("storage.read"):  # the scan, read whole
            batches = list(self._ds.to_batches(*a, **k))
        return iter(batches)

    def __getattr__(self, name):
        return getattr(self._ds, name)


# -- Spark event log ----------------------------------------------------------

_PY_SENT = "data sent to Python workers"


def spark_metrics(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run/CPU/GC seconds, bytes.
    Reads the JSON-lines event log that session.py writes when
    FEMTO_EVENTLOG is set; the benchmark labels each call with a job
    group, so every job maps to the call that started it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = []  # Spark 4 rolls the log: eventlog_v2_<app>/events_<n>_<app>
    for root, _dirs, names in os.walk(eventlog_dir):
        for fn in names:
            if fn.startswith("events_"):
                files.append((int(fn.split("_")[1]), os.path.join(root, fn)))
    for _n, path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g:
                        continue
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    o = out[g]
                    o["tasks"] += 1
                    o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_SENT:
                            o["python_bytes_sent"] += float(acc.get("Update") or 0)
    return {g: dict(v) for g, v in out.items()}
