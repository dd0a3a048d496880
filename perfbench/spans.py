"""In-memory span tracer for the traced benchmark run.

Spans (name, start, end, parent, op id) are recorded at layer
boundaries by the benchmark's own code: around each operation, around
calls into package functions (wrapped at runtime by :meth:`Tracer.wrap`,
the package itself is never edited), and around the define / execute
halves of a query. Spans stay in memory and are written once, when
the run ends.

Spark counts come from the job group the tracer sets per operation
(``statusTracker``); Catalyst phase times come from
``queryExecution().tracker()`` of the DataFrames the benchmark holds.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._n_ops = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self._op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, spark, kind: str):
        """One benchmark operation: a span, plus a Spark job group so
        its jobs, stages and tasks can be counted afterwards."""
        self._n_ops += 1
        op_id = f"op-{self._n_ops}"
        self._op = op_id
        sc = spark.sparkContext
        sc.setJobGroup(op_id, kind)
        try:
            with self.span(f"op.{kind}"):
                yield op_id
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op = None
            self._count_jobs(sc, op_id)

    def _count_jobs(self, sc, op_id: str) -> None:
        st = sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(op_id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numTasks == 0:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        for k, v in (("spark.jobs", jobs), ("spark.stages", stages),
                     ("spark.tasks", tasks), ("spark.failed_tasks", failed)):
            self.count(k, v)

    def count(self, name: str, n: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- Catalyst -----------------------------------------------------------

    def catalyst(self, df) -> None:
        """Record the analysis + optimization + planning time of an
        executed DataFrame (QueryPlanningTracker phases)."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        it = phases.iterator()
        while it.hasNext():
            total += it.next()._2().durationMs()
        self.sample("spark.catalyst_ms", float(total))

    # -- runtime wrapping of package functions ------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``name``; :meth:`unwrap_all` restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, fn) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reduction ----------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_ms(self) -> list[float]:
        """Per span: its duration minus the time its direct children
        cover (children of one span never overlap: the benchmark's
        client is one thread, and a stream's foreachBatch callback runs
        while that thread waits on the stream)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [0.0 if s["end"] is None else (s["end"] - s["start"] - child[i]) * 1e3
                for i, s in enumerate(self.spans)]

    def self_ms_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, ms in zip(self.spans, self.self_ms()):
            out[s["name"]] = out.get(s["name"], 0.0) + ms
        return out

    def median(self, name: str) -> float:
        vals = self.samples.get(name) or self.durations_ms(name)
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                "spans": [{**s, "start": s["start"] - t0,
                           "end": None if s["end"] is None else s["end"] - t0}
                          for s in self.spans],
                "self_ms": self.self_ms_by_name(),
                "counters": self.counters,
            }, f)


class NullTracer(Tracer):
    """Untraced runs: the same interface, recording nothing, so the
    measured code path is identical apart from the tracing itself."""

    @contextmanager
    def span(self, name: str):
        yield None

    @contextmanager
    def op(self, spark, kind: str):
        yield None

    def count(self, name: str, n: float) -> None:
        pass

    def sample(self, name: str, value: float) -> None:
        pass

    def catalyst(self, df) -> None:
        pass

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def replace(self, owner, attr: str, fn) -> None:
        pass
