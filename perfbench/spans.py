"""Span tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function of the package with a wrapper that opens a span
around each call, and :meth:`Tracer.restore` puts the originals back. The
package itself is not edited.

Each span records its name, start, end, parent and request id, plus:

* ``py4j``: py4j round trips made while it was open, counted by wrapping
  ``py4j.clientserver.JavaClient.send_command`` (inclusive of children);
* ``jobs``/``stages``: the Spark job and stage ids submitted while it was
  open, read as id watermarks from the DAG scheduler. Ranges, not job
  groups, attribute the work, because streaming micro-batches run under a
  job group of their own. Each span still sets its own job group, so the
  jobs it fires are labelled with it;
* ``stage_metrics``: per-stage executor run time, input/output/shuffle/
  spill bytes and the longest task, from
  ``statusStore().lastStageAttempt(id)`` (works with the UI off).

Spans are kept in memory and written out once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from typing import Any, Callable


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the part of that interval the children cover.

    Children may overlap each other (two threads, or a child that outlives
    its sibling), so their intervals are clipped to the parent and merged
    before they are subtracted.
    """
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end))
                         for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


class _Py4JCounter:
    """Counts py4j round trips; installed once per traced process."""

    def __init__(self):
        self.calls = 0
        self.paused = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import JavaClient

        orig = JavaClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if not counter.paused:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        self._orig = orig
        JavaClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import JavaClient

            JavaClient.send_command = self._orig
            self._orig = None

    @contextmanager
    def pause(self):
        """Do not count the tracer's own calls into the JVM."""
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1


class WorkMeter:
    """Counts the py4j round trips and Spark jobs of the operations it
    brackets: ``since(snapshot())`` gives the ``(py4j_calls, jobs)`` made in
    between. Its own reads of the scheduler's job counter are not counted.
    Unlike time on a shared host, these counts repeat from run to run."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._py4j = _Py4JCounter()
        self._py4j.install()

    def _next_job(self) -> int:
        with self._py4j.pause():
            return int(self._dag.nextJobId())

    def snapshot(self) -> tuple[int, int]:
        return self._py4j.calls, self._next_job()

    def since(self, before: tuple[int, int]) -> tuple[int, int]:
        jobs = self._next_job() - before[1]
        return self._py4j.calls - before[0], jobs

    def close(self) -> None:
        self._py4j.uninstall()


class Tracer:
    """In-memory span recorder bound to one SparkContext. Spans opened
    before :meth:`bind` record wall time only."""

    def __init__(self):
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[Any, str, Any]] = []
        self._stage_cache: dict[int, dict[str, float]] = {}
        self._py4j = _Py4JCounter()
        self._sc = None
        self.request: str | None = None

    # -- lifecycle ---------------------------------------------------------
    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        self._py4j.install()

    def close(self) -> None:
        self._py4j.uninstall()
        self.restore()

    def _watermarks(self) -> tuple[int, int]:
        if self._sc is None:
            return (0, 0)
        with self._py4j.pause():
            dag = self._sc._jsc.sc().dagScheduler()
            # the scheduler's AtomicInteger id counters (py4j hands a
            # java.lang.Number back as a Python int)
            return (int(dag.nextJobId()), int(dag.nextStageId()))

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        with self._py4j.pause():
            if group is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(group, group)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request, "attrs": attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}-{name}"
        self._set_group(rec["group"])
        job_lo, stage_lo = self._watermarks()
        py4j_lo = self._py4j.calls
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["py4j"] = self._py4j.calls - py4j_lo
            job_hi, stage_hi = self._watermarks()
            rec["jobs"] = list(range(job_lo, job_hi))
            rec["stages"] = list(range(stage_lo, stage_hi))
            self._set_group(parent["group"] if parent else None)
            self.spans.append(rec)

    def wrap(self, owner: Any, attr: str, name: str) -> Callable:
        """Replace ``owner.attr`` by a span-recording wrapper; returns it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)
        return traced

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- stage metrics -----------------------------------------------------
    def stage_metrics(self, stage_id: int) -> dict[str, float]:
        """Metrics of one stage's last attempt; zeros for a stage that was
        skipped (its id was allocated but it never ran)."""
        got = self._stage_cache.get(stage_id)
        if got is not None:
            return got
        out = {"executor_run_s": 0.0, "input_bytes": 0.0,
               "output_bytes": 0.0, "shuffle_bytes": 0.0,
               "spill_bytes": 0.0, "max_task_s": 0.0, "ran": 0.0}
        from py4j.protocol import Py4JJavaError

        with self._py4j.pause():
            store = self._sc._jsc.sc().statusStore()
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # no attempt recorded: the stage was skipped
                self._stage_cache[stage_id] = out
                return out
            out["ran"] = 1.0
            out["executor_run_s"] = st.executorRunTime() / 1000.0
            out["input_bytes"] = float(st.inputBytes())
            out["output_bytes"] = float(st.outputBytes())
            out["shuffle_bytes"] = float(st.shuffleWriteBytes())
            out["spill_bytes"] = float(st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
            out["max_task_s"] = self._max_task_s(store, stage_id,
                                                 st.attemptId())
        self._stage_cache[stage_id] = out
        return out

    def _max_task_s(self, store, stage_id: int, attempt: int) -> float:
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 1)
        q[0] = 1.0
        summary = store.taskSummary(stage_id, attempt, q)
        if summary.isEmpty():
            return 0.0
        return summary.get().executorRunTime().apply(0) / 1000.0

    def span_stages(self, rec: dict[str, Any]) -> dict[str, float]:
        """Stage metrics summed over a span's stages (max for max_task_s),
        fetched on first use and kept in the span record."""
        if "stage_totals" in rec:
            return rec["stage_totals"]
        tot = {"stages": 0.0, "executor_run_s": 0.0, "input_bytes": 0.0,
               "output_bytes": 0.0, "shuffle_bytes": 0.0,
               "spill_bytes": 0.0, "max_task_s": 0.0}
        if self._sc is None:
            return tot
        for sid in rec["stages"]:
            m = self.stage_metrics(sid)
            tot["stages"] += m["ran"]
            for key in ("executor_run_s", "input_bytes", "output_bytes",
                        "shuffle_bytes", "spill_bytes"):
                tot[key] += m[key]
            tot["max_task_s"] = max(tot["max_task_s"], m["max_task_s"])
        rec["stage_totals"] = tot
        return tot

    # -- summaries -----------------------------------------------------------
    def finished(self) -> list[dict[str, Any]]:
        """Closed spans with ``wall_s`` and ``self_s``."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            if "wall_s" not in s:
                s["wall_s"] = s["end"] - s["start"]
                s["self_s"] = self_time(s["start"], s["end"],
                                        kids.get(s["id"], []))
        return self.spans

    def dump(self, path: str, **header) -> None:
        spans = self.finished()
        with open(path, "w") as fh:
            json.dump({**header, "spans": spans}, fh)
