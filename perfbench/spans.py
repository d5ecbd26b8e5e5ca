"""Spans around calls into the library, and Spark's own counters.

Spans are recorded from outside the library: the benchmark wraps each
call into a module's public function in ``tracer.span(name)``.  They are
kept in memory and written out when the run ends.  The untraced run
uses :class:`NullTracer`, whose spans cost one attribute lookup.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class NullTracer:
    enabled = False

    def span(self, name: str):
        return _NULL

    def begin_op(self, op_id: int) -> None:
        pass

    def checkpoint(self, label: str, **extra) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    """In-memory spans ``(name, start, end, parent, op)``; a span's
    parent is the innermost span open when it started."""
    enabled = True

    def __init__(self, counters: "SparkCounters"):
        self.counters = counters
        self.spans: list[dict] = []
        self.ops: list[dict] = []      # per-op Spark counter deltas
        self._stack: list[int] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def begin_op(self, op_id: int) -> None:
        self._op = op_id
        self._parts: dict[str, dict] = {}
        self.counters.mark()

    def checkpoint(self, label: str, **extra) -> None:
        """Close a part of the current op: the Spark counters since
        the previous checkpoint (or the op's start) go under
        ``label``, with ``extra`` values recorded beside them."""
        self._parts[label] = {**self.counters.delta(), **extra}

    def end_op(self) -> None:
        self._parts["rest"] = self.counters.delta()
        total = {f: sum(p[f] for p in self._parts.values())
                 for f in SparkCounters.FIELDS}
        entries, rdds = self.counters.cache_entries()
        self.ops.append({"op": self._op, **total, "parts": self._parts,
                         "cache_entries": entries, "cached_rdds": rdds})
        self._op = None

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self time of each of its spans: its duration
        minus the part covered by its child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s["name"]].append(s["end"] - s["start"] - child[i])
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for o in self.ops:
                f.write(json.dumps({"kind": "op", **o}) + "\n")


class SparkCounters:
    """Per-op deltas from Spark's ``AppStatusStore``: the jobs started
    since :meth:`mark`, their stages and tasks, shuffle, spill and
    input bytes, and when the last of them ended."""

    FIELDS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_bytes")

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._store = self._jsc.sc().statusStore()
        self._bus = self._jsc.sc().listenerBus()
        self._cache = spark._jsparkSession.sharedState().cacheManager()
        self._next_job = 0
        self._advance()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError
        try:
            return self._store.job(job_id)
        except Py4JJavaError:       # NoSuchElementException: not started
            return None

    def _stage(self, stage_id: int):
        from py4j.protocol import Py4JJavaError
        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:       # a planned stage that never ran
            return None

    def _advance(self) -> list:
        """Job records started since the last call, oldest first."""
        self._bus.waitUntilEmpty()
        jobs = []
        while (j := self._job(self._next_job)) is not None:
            jobs.append(j)
            self._next_job += 1
        return jobs

    def mark(self) -> None:
        self._advance()

    def delta(self) -> dict:
        out = dict.fromkeys(self.FIELDS, 0)
        last_end = None
        for j in self._advance():
            out["jobs"] += 1
            end = j.completionTime()
            if end.isDefined():
                t = end.get().getTime() / 1000.0
                last_end = t if last_end is None else max(last_end, t)
            ids = j.stageIds()
            for i in range(ids.size()):
                st = self._stage(ids.apply(i))
                if st is None or st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                out["input_bytes"] += st.inputBytes()
        out["last_job_end"] = last_end
        return out

    def cache_entries(self) -> tuple[int, int]:
        """``CacheManager`` entries (persisted Datasets) and RDDs
        persisted in the SparkContext (``localCheckpoint`` included)."""
        return (self._cache.numCachedEntries(),
                self._jsc.getPersistentRDDs().size())
