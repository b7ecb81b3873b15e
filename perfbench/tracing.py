"""Spans around the engine's public entry points, stage metrics from
Spark's AppStatusStore, and per-layer self time.

Spans are recorded only in traced runs, from the benchmark's side of
each call: ``Tracer.install`` wraps the public functions each layer
exposes (including the names other engine modules imported, such as the
``provide`` that ``plans.incremental`` calls). Spans stay in memory and
are written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, layer, start, end, parent, op)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        fn = getattr(owner, attr)
        if getattr(fn, "__wrapped_by_tracer__", False):
            return
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, self.wrap(fn, name, layer))

    def patch_everywhere(self, fn, name: str, layer: str) -> None:
        """Wrap ``fn`` in its own module and in every loaded engine
        module that imported it by name."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("curatorhadoopinterface_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self.patch(mod, attr, name, layer)

    def install(self) -> None:
        from curatorhadoopinterface_spark import io, session
        from curatorhadoopinterface_spark.plans import incremental, provide

        self.patch_everywhere(session.load_table, "session.load_table", "session")
        self.patch_everywhere(provide.provide, "provide.provide", "provide")
        for fn, name in (
            (io.write_corpus, "io.write_corpus"),
            (io.read_thrift_records, "io.read_thrift_records"),
            (io.write_thrift_records, "io.write_thrift_records"),
        ):
            self.patch_everywhere(fn, name, "io")
        store = incremental.RecordStore
        self.patch(store, "load", "incremental.load", "incremental")
        self.patch(store, "upsert", "incremental.upsert", "incremental")
        self.patch(store, "provide_incremental", "incremental.provide_incremental", "incremental")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans,
        over the spans recorded inside timed operations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["op"] is not None:
                out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


_STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "outputBytes",
)


def stage_table(spark) -> dict[tuple[int, int], dict]:
    """(stageId, attempt) -> metrics for every stage the AppStatusStore
    retains (the ``bench.py`` ``_stage_snapshot`` pattern)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    seq = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    out = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        out[(s.stageId(), s.attemptId())] = {f: getattr(s, f)() for f in _STAGE_FIELDS}
    return out


def sum_stages(rows) -> dict:
    rows = list(rows)
    tot = {f: sum(r[f] for r in rows) for f in _STAGE_FIELDS}
    tot["stages"] = sum(1 for r in rows if r["numCompleteTasks"] > 0)
    return tot


def group_stages(spark, table: dict, group: str) -> dict:
    """Summed stage metrics of every job run under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            ids.update(info.stageIds)
    return sum_stages(v for (sid, _), v in table.items() if sid in ids)
