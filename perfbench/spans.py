"""Traced mode: spans around the calls into each layer, plus per-op Spark
counters from the application status store.

Spans are recorded from outside the program: :meth:`Tracer.wrap` replaces
a function *where its callers look it up* (``api.parse`` is bound into
``opengemini_spark.api`` at import time, so that binding is the one
wrapped).  A span around a lazy call times plan building only; execution
shows up in the span of the call that runs the action.

Times are wall-clock seconds (``time.time``) so spans line up with the
JVM's job submission and completion stamps.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  ``op`` tags new spans with the id of the
    benchmark operation in flight."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, list[tuple[int | None, float]]] = defaultdict(list)
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def count(self, name: str, value: float) -> None:
        self.counters[name].append((self.op, value))

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper.  ``before(args,
        kwargs)`` runs ahead of the span and its result is passed to
        ``after(state, args, kwargs)`` once the call returns."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name):
                out = orig(*args, **kwargs)
            if after:
                after(state, args, kwargs)
            return out

        setattr(owner, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(kids[i], s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def spark_jobs(spark, since_ms: float) -> list[dict]:
    """Jobs submitted at or after ``since_ms`` (epoch ms), each with the
    summed counters of its stages.  Waits for the listener bus first, so
    every finished job is in the status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = sc._jvm
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    stages = {}
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for st in _seq(jvm, store.stageList(None, False, False, no_quantiles, None)):
        acc = stages.setdefault(st.stageId(), defaultdict(float))
        if str(st.status()) == "SKIPPED":
            continue
        acc["stages"] += 1
        acc["tasks"] += st.numCompleteTasks()
        acc["run_ms"] += st.executorRunTime()
        acc["cpu_ms"] += st.executorCpuTime() / 1e6
        acc["shuffle_bytes"] += st.shuffleWriteBytes()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        acc["input_records"] += st.inputRecords()
    jobs = []
    seen: set[int] = set()
    for j in sorted(_seq(jvm, store.jobsList(None)), key=lambda j: j.jobId()):
        sub = _ms(j.submissionTime())
        if sub is None or sub < since_ms:
            continue
        end = _ms(j.completionTime())
        row = {"id": j.jobId(), "submit": sub / 1000.0,
               "end": (end if end is not None else sub) / 1000.0}
        for sid in _seq(jvm, j.stageIds()):
            if sid in seen:
                continue  # a stage shared by later jobs counts once
            seen.add(sid)
            for k, v in stages.get(sid, {}).items():
                row[k] = row.get(k, 0.0) + v
        jobs.append(row)
    return jobs


SPARK_COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms",
                  "shuffle_bytes", "spill_bytes", "input_records", "driver_ms")


def attribute(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Sum job counters per window (epoch seconds).  A job belongs to the
    window its submission falls in; a 1 ms slack absorbs the JVM's
    millisecond stamps.  ``driver_ms`` is window time not covered by any
    of its running jobs."""
    out = []
    for lo, hi in windows:
        mine = [j for j in jobs if lo - 1e-3 <= j["submit"] <= hi + 1e-3]
        row = {k: 0.0 for k in SPARK_COUNTERS}
        row["jobs"] = float(len(mine))
        for j in mine:
            for k in SPARK_COUNTERS[1:-1]:
                row[k] += j.get(k, 0.0)
        busy = covered([(j["submit"], j["end"]) for j in mine], lo, hi)
        row["driver_ms"] = (hi - lo - busy) * 1000.0
        out.append(row)
    return out
