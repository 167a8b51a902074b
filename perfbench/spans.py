"""In-memory span tracing for the benchmark's traced runs.

A span is recorded around each call into a layer of firefly_vcut_spark:
name, start, end, parent span and op id. Every span runs its Spark jobs
under a job group of its own, so after the op the jobs, stages, tasks and
stage metrics of each span are read back from ``sc.statusTracker()`` and
the application status store (which is kept with the UI disabled).

Spans are attached by rebinding module and class attributes from this
file; nothing in the program is edited. Untraced runs install no
wrappers at all.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


class Tracer:
    """Records spans while an op is being traced (``op_scope``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        """Record a span if an op is being traced; otherwise do nothing."""
        if self._op is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "group": f"perfbench-{os.getpid()}-{len(self.spans)}",
            "counts": defaultdict(float),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def op_scope(self, op_id: int):
        """Trace one op: every span opened inside belongs to ``op_id``."""
        self._op = op_id
        try:
            with self.span("bench.op"):
                yield
        finally:
            self._op = None

    # -- attaching to the program -------------------------------------------

    def wrap(self, owner: object, attr: str, name: str, after=None):
        """Rebind ``owner.attr`` to a wrapper that records span ``name``.
        ``after(rec, args, result)`` may add counts once the span ended."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
            if rec is not None and after is not None:
                after(rec, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))
        return wrapper

    def wrap_everywhere(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` and every firefly_vcut_spark module
        global bound to the same function (``from m import f`` copies)."""
        orig = getattr(module, attr)
        wrapper = self.wrap(module, attr, name)
        for mod_name, mod in list(sys.modules.items()):
            if (
                mod_name.startswith("firefly_vcut_spark")
                and mod is not module
                and getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, wrapper)
                self._patches.append((mod, attr, orig))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark statistics ----------------------------------------------------

    def collect_spark(self, op_id: int, timeout: float = 10.0) -> None:
        """Attach job/stage statistics to every span of ``op_id``.

        Each stage is counted once per op, for the first job that ran it;
        later jobs that reuse its shuffle output only skip it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        spans = [s for s in self.spans if s["op"] == op_id]
        jobs = sorted(
            (jid, s) for s in spans for jid in tracker.getJobIdsForGroup(s["group"])
        )
        seen: set[int] = set()
        dominant = (0, None, None)  # (run ms, stage id, attempt id)
        for s in spans:
            s["spark"] = dict.fromkeys(SPARK_KEYS, 0.0)
        deadline = time.monotonic() + timeout
        for jid, s in jobs:
            info = tracker.getJobInfo(jid)
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.02)
                info = tracker.getJobInfo(jid)
            if info is None:
                continue
            stats = s["spark"]
            stats["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                seen.add(sid)
                stats["stages"] += 1
                stats["tasks"] += st.numTasks()
                stats["executor_run_s"] += st.executorRunTime() / 1000.0
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.executorRunTime() > dominant[0]:
                    dominant = (st.executorRunTime(), sid, st.attemptId())
        spans[0]["task_max_over_median"] = self._task_skew(store, dominant[1], dominant[2])

    def _task_skew(self, store, stage_id, attempt_id) -> float:
        """Slowest task over median task run time in the op's dominant stage."""
        if stage_id is None:
            return 0.0
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = store.taskSummary(stage_id, attempt_id, quantiles)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 0.0

    # -- per-op summaries ----------------------------------------------------

    def op_summary(self, op_id: int) -> dict[str, float]:
        """Per-op totals: ``<span>.s`` / ``<span>.calls`` by span name,
        ``<span>.<count>`` for counts, ``self.<layer>`` self time per layer,
        ``jobs:<span>`` jobs including child spans, ``spark.<key>`` for the
        whole op."""
        spans = [s for s in self.spans if s["op"] == op_id]
        out: dict[str, float] = defaultdict(float)
        child_time: dict[int, float] = defaultdict(float)
        inclusive_jobs: dict[int, float] = defaultdict(float)
        for s in reversed(spans):  # children were opened after their parent
            dur = s["end"] - s["start"]
            inclusive_jobs[s["id"]] += s.get("spark", {}).get("jobs", 0.0)
            if s["parent"] is not None:
                child_time[s["parent"]] += dur
                inclusive_jobs[s["parent"]] += inclusive_jobs[s["id"]]
        for s in spans:
            dur = s["end"] - s["start"]
            out[f"{s['name']}.s"] += dur
            out[f"{s['name']}.calls"] += 1
            out[f"jobs:{s['name']}"] += inclusive_jobs[s["id"]]
            out[f"self.{s['name'].split('.')[0]}"] += dur - child_time[s["id"]]
            for key, value in s["counts"].items():
                out[f"{s['name']}.{key}"] += value
            for key, value in s.get("spark", {}).items():
                out[f"spark.{key}"] += value
        out["spark.task_max_over_median"] = spans[0].get("task_max_over_median", 0.0)
        return out


def record_written(rec: dict, args: tuple, result) -> None:
    """Bytes and files written by ``SnapshotStore.write(self, table, df)``,
    which returns the new version number."""
    store, table = args[0], args[1]
    nbytes, files = _dir_size(os.path.join(store.root, table, f"v{result}"))
    rec["counts"]["bytes"] += nbytes
    rec["counts"]["files"] += files


def median_of(summaries: list[dict[str, float]], key: str) -> float:
    if not summaries:
        return 0.0
    return float(statistics.median(s.get(key, 0.0) for s in summaries))
