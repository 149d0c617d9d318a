"""Layer instrumentation recorded from outside the package.

Three sources, all attached by the benchmark without editing the
package:

* :class:`Tracer` — spans around the layers' public functions.  The
  functions are wrapped by replacing the module attributes that name
  them (in every package module that imported them), so calls made from
  inside the package are recorded too.  Spans live in memory and are
  reduced to totals and self times after the run.
* :func:`parse_event_log` — Spark's own event log, tagged per op with
  ``setJobGroup``, reduced to per-op job/stage/task/Arrow figures.
* :class:`RssSampler` — summed resident memory of the driver Python
  process, the JVM and the JVM's Python workers.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: int | None
    t0: float
    t1: float = 0.0


class Tracer:
    """Span recorder.  A disabled tracer records nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every package-module alias of it."""
        if not self.enabled:
            return
        original = getattr(module, attr)
        traced = self.wrap(original, name)
        prefix = module.__name__.split(".")[0]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, original))

    def unpatch(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    # Reductions cover the spans recorded inside timed ops only.

    def totals(self) -> dict[str, float]:
        """Summed wall seconds per span name."""
        out: dict[str, float] = {}
        for s in self._in_ops():
            out[s.name] = out.get(s.name, 0.0) + (s.t1 - s.t0)
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self._in_ops():
            out[s.name] = out.get(s.name, 0) + 1
        return out

    def self_times(self) -> dict[str, float]:
        """Summed self seconds per span name: each span's duration minus
        the part of its interval that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self._in_ops():
            covered = _union_length(
                [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in children.get(s.sid, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.t1 - s.t0) - covered
        return out

    def _in_ops(self) -> list[Span]:
        return [s for s in self.spans if s.t1 and s.op is not None]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self):
        tr = self.tracer
        if not tr.enabled:
            return self
        stack = tr._stack()
        with tr._lock:
            sid = len(tr.spans)
            self.span = Span(sid, stack[-1] if stack else None, self.name, tr.op,
                             time.perf_counter())
            tr.spans.append(self.span)
        stack.append(sid)
        return self

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.t1 = time.perf_counter()
            self.tracer._stack().pop()
        return False


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"

#: Per-op figures :func:`parse_event_log` fills in.
EVENT_FIELDS = (
    "jobs", "stages", "stages_skipped", "tasks", "job_span_s",
    "executor_run_s", "executor_cpu_s", "scheduler_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "python_worker_s", "bytes_to_python", "bytes_from_python",
)


def parse_event_log(path: str, windows: list[tuple[str, float, float]]) -> list[dict]:
    """Reduce an uncompressed, non-rolling event log to per-op figures.

    ``windows`` holds ``(job_group, start_epoch_s, end_epoch_s)`` per op,
    in op order.  A job belongs to the op whose job group it carries;
    jobs submitted from Spark's own threads (streaming micro-batches
    carry the query's run id as group) fall back to the op whose wall
    window contains their submission time.

    ``stages_skipped`` counts stages an op's jobs list but no job of
    that op executed: shuffle output reused from outside the op.  A
    stage is identified by the RDD it computes (the highest RDD id in its
    info), not by its stage id: adaptive execution materialises a
    shuffle in one job and lists it again, under a new stage id, in the
    op's next job, which is reuse within the op and is not counted.
    """
    by_group = {g: i for i, (g, _, _) in enumerate(windows)}

    def owner(group, t_ms) -> int | None:
        if group in by_group:
            return by_group[group]
        t = t_ms / 1000.0
        for i, (_, a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    per = [dict.fromkeys(EVENT_FIELDS, 0) for _ in windows]
    listed: list[set] = [set() for _ in windows]
    ran: list[set] = [set() for _ in windows]
    job_op: dict[int, int] = {}
    job_start: dict[int, int] = {}
    spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    stage_op: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                i = owner(group, e["Submission Time"])
                if i is None:
                    continue
                job_op[e["Job ID"]] = i
                job_start[e["Job ID"]] = e["Submission Time"]
                per[i]["jobs"] += 1
                for info in e.get("Stage Infos", []):
                    listed[i].add(_stage_key(info))
                    stage_op.setdefault(info["Stage ID"], i)
            elif kind == "SparkListenerJobEnd":
                i = job_op.get(e["Job ID"])
                if i is not None:
                    spans[i].append((job_start[e["Job ID"]] / 1000.0,
                                     e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                i = by_group.get(group, stage_op.get(info["Stage ID"]))
                if i is not None:
                    ran[i].add(_stage_key(info))
                    stage_op[info["Stage ID"]] = i
            elif kind == "SparkListenerTaskEnd":
                i = stage_op.get(e["Stage ID"])
                if i is not None:
                    _add_task(per[i], e)
    for i, p in enumerate(per):
        p["stages"] = len(ran[i])
        p["stages_skipped"] = len(listed[i] - ran[i])
        p["job_span_s"] = _union_length(spans[i])
    return per


def _stage_key(info: dict) -> int:
    return max(r["RDD ID"] for r in info["RDD Info"])


def _add_task(p: dict, e: dict) -> None:
    info = e.get("Task Info") or {}
    m = e.get("Task Metrics") or {}
    p["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    p["executor_run_s"] += run_ms / 1000.0
    p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (run_ms + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0))
    p["scheduler_delay_s"] += max(duration - overhead, 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    p["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    p["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    p["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float, str)) or name not in (_PY_TIME, _PY_SENT, _PY_RETURNED):
            continue
        v = float(update)
        if name == _PY_TIME:
            p["python_worker_s"] += v / 1000.0  # millisecond timing metric
        elif name == _PY_SENT:
            p["bytes_to_python"] += v
        else:
            p["bytes_from_python"] += v


# ---------------------------------------------------------------------------
# Resident memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's resident-set high-water mark of ``pid`` (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process, the JVM and every
    descendant of the JVM (the Python worker daemon and its workers).

    Each process's own high-water mark (VmHWM) is read every
    ``interval`` seconds on a background thread, so a worker that exits
    between samples still counts; the result is the sum over processes
    of their peaks."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    @property
    def peak(self) -> int:
        return sum(self._peaks.values())

    def sample(self) -> None:
        kids = _children_map()
        todo = [self.jvm_pid, os.getpid()]
        while todo:
            pid = todo.pop()
            self._peaks[pid] = max(self._peaks.get(pid, 0), _peak_rss_bytes(pid))
            if pid == self.jvm_pid:
                todo.extend(kids.get(pid, []))
            else:
                todo.extend(k for k in kids.get(pid, []) if k != self.jvm_pid)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False
