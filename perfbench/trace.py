"""Outside-in measurement: spans, per-module wrappers, Spark counters, RSS.

Nothing here changes the engine.  Spans are recorded around calls into
each module's public functions by replacing the module attribute with a
timed wrapper for the duration of a traced run, so the engine's own
lookups (``N.read_sboms(...)`` inside ``engine.py``) go through it.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent,
    op_id); spans opened while another is open become its children."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op_id": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class Instrumented:
    """Wrap public functions of engine modules in spans for a traced run.

    ``targets`` maps a span name ``<layer>.<function>`` to
    ``(module path, attribute path)``; the attribute may be a function
    of the module or a method of one of its classes.  The wrappers keep
    the last value each function returned, so a traced op can force a
    lazy layer's output afterwards.  ``restore`` puts the originals back.
    """

    def __init__(self, tracer: Tracer, targets: dict[str, tuple[str, str]]):
        self.tracer = tracer
        self.returned: dict[str, object] = {}
        self._saved: list[tuple[object, str, object]] = []
        for span_name, (mod_name, attr) in targets.items():
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(span_name, orig))

    def _wrap(self, span_name, fn):
        tracer, returned = self.tracer, self.returned

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            returned[span_name] = out
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def restore(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()


class SparkCounters:
    """Per-op job, stage, task, input, shuffle and spill counts read from
    outside: ops run under their own job group; the status tracker lists
    the group's jobs and stages; the status store holds stage metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._group = None

    def begin(self, op_id: int) -> None:
        self._group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(self._group, self._group)

    def end(self) -> dict[str, int]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "scans", "input_bytes", "input_records",
             "shuffle_write_bytes", "spill_bytes"), 0)
        for jid in tracker.getJobIdsForGroup(self._group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
                sd = store.lastStageAttempt(sid)
                out["scans"] += sd.inputBytes() > 0
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


def _child_map() -> dict[int, list[int]]:
    """Parent pid → child pids, from every ``/proc/<pid>/stat``."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may hold spaces: fields resume after its ')'.
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    children = _child_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Background sampler of the process tree's resident set (the Python
    driver, the JVM it launched and the JVM's Python workers), every
    ``INTERVAL_S`` seconds."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def p90(self) -> int:
        """90th percentile of the samples: the high-water level without
        the shortest spikes."""
        s = sorted(self.samples)
        return s[int(0.9 * (len(s) - 1))] if s else 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
