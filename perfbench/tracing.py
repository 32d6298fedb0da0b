"""Tracing from outside the engine: spans around the benchmark's calls into
the engine's public functions, counts from Spark's own status store and
from a counting wrapper on the py4j client.

A span records its layer, kind ("build": until the public function returns
its DataFrame; "exec": the action, or a call that does its work eagerly),
start, end, parent and request id. Spans live in memory and are reduced to
per-layer metrics once, after the timed passes. Jobs and stages are
attributed to the innermost span whose time window holds their submission
time, not by job tags: suites build member plans from a thread pool, so
per-thread tags are not trusted.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Quantities kept per layer. A quantity that is structurally zero for a
# layer (no shuffle in a hybrid merge of two top-k lists, no DataFrame
# returned by a streaming ingest) is left out to stay within 128 metrics.
_FULL = ("build_s", "build_jobs", "py4j_calls", "plan_s", "exec_s",
         "jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes")
_NO_SPILL = _FULL[:-1]
_EAGER = ("exec_s", "py4j_calls", "jobs", "tasks", "task_s", "shuffle_bytes")
_SERVE = ("build_s", "build_jobs", "py4j_calls", "plan_s", "exec_s", "jobs", "tasks", "task_s")
LAYERS: dict[str, tuple[str, ...]] = {
    "operators.vector_search": _NO_SPILL,
    "operators.fts": _NO_SPILL,
    "operators.hybrid": tuple(q for q in _NO_SPILL if q != "shuffle_bytes"),
    "operators.ann": _NO_SPILL,
    "operators.dedup": _FULL,
    "functions.text": ("build_s", "build_jobs", "py4j_calls", "plan_s", "exec_s",
                       "jobs", "tasks", "task_s"),
    "operators.clustering": _EAGER,
    "streaming.events.ingest": _EAGER + ("files_written", "bytes_written"),
    "streaming.events.search": _SERVE,
    "streaming.events.compact": _EAGER,
    "streaming.ann_ingest.ingest": _EAGER[:-1] + ("files_written", "bytes_written"),
    "streaming.ann_ingest.search": _SERVE,
    "streaming.ann_ingest.compact": _EAGER,
    "gates": _FULL,
}
EXTRA = ("session.start_s", "session.peak_rss_mb", "spark.failed_tasks",
         "streaming.stored_bytes_per_input_byte", "trace.overhead_ratio")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in a fixed order."""
    return [f"{layer}.{q}" for layer, qs in LAYERS.items() for q in qs] + list(EXTRA)


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "per_input_byte")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


@dataclass
class Span:
    layer: str
    kind: str
    request: int
    parent: int | None
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    py4j: int = 0
    plan_s: float = 0.0
    action_plan_s: float = 0.0
    files: int = 0
    bytes: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; when disabled every hook is a no-op, so
    the untraced run makes no extra gateway round trips."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.active = False  # spans are kept only while a traced pass runs
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request = 0
        self._py4j = 0
        self._client = None
        if enabled:
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command
            lock = threading.Lock()  # suites and streams call from other threads

            def counting_send(*args, **kwargs):
                with lock:
                    self._py4j += 1
                return send(*args, **kwargs)

            client.send_command = counting_send
            self._client = client

    def close(self) -> None:
        if self._client is not None:
            del self._client.send_command
            self._client = None

    def write(self, path: str) -> None:
        """Write every span, one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def next_request(self) -> None:
        self._request += 1

    @contextmanager
    def span(self, layer: str, kind: str, watch_dir: str | None = None):
        """Time one call into `layer`. `watch_dir`: count the files and
        bytes the call leaves under that directory."""
        if not self.active:
            yield None
            return
        before = _dir_usage(watch_dir) if watch_dir else (0, 0)
        s = Span(layer, kind, self._request, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        p0 = self._py4j
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j = self._py4j - p0
            self._stack.pop()
            if watch_dir:
                after = _dir_usage(watch_dir)
                s.files, s.bytes = after[0] - before[0], after[1] - before[1]

    def record_plan(self, s: Span | None, df) -> None:
        """Catalyst phase times of the DataFrame the action of span `s` ran
        on. Analysis runs eagerly while the DataFrame is built; optimization
        and planning run inside the action."""
        if s is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        ms = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            ms[name] = opt.get().durationMs() if opt.isDefined() else 0
        s.plan_s = sum(ms.values()) / 1000.0
        s.action_plan_s = (ms["optimization"] + ms["planning"]) / 1000.0

    def job_and_stage_counts(self) -> int:
        """Attribute every job and stage in the status store to a span.
        Returns the run's failed task count."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        windows = sorted(
            ((s.start * 1000.0, s.end * 1000.0, i) for i, s in enumerate(self.spans)),
        )

        def owner(ms: float) -> Span | None:
            best = None
            for start, end, i in windows:
                if start > ms:
                    break
                if ms <= end:
                    best = i  # later start inside the window = innermost
            return self.spans[best] if best is not None else None

        jobs = store.jobsList(None)
        for j in range(jobs.length()):
            job = jobs.apply(j)
            sub = job.submissionTime()
            if sub.isDefined():
                s = owner(float(sub.get().getTime()))
                if s is not None:
                    s.counts["jobs"] = s.counts.get("jobs", 0) + 1
        failed = 0
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        stages = store.stageList(None, *defaults)
        for j in range(stages.length()):
            st = stages.apply(j)
            failed += st.numFailedTasks()
            sub = st.submissionTime()
            if not sub.isDefined():
                continue  # skipped stage: nothing ran
            s = owner(float(sub.get().getTime()))
            if s is None:
                continue
            c = s.counts
            c["tasks"] = c.get("tasks", 0) + st.numCompleteTasks()
            c["task_s"] = c.get("task_s", 0.0) + st.executorRunTime() / 1000.0
            c["shuffle_bytes"] = (c.get("shuffle_bytes", 0) + st.shuffleReadBytes()
                                  + st.shuffleWriteBytes())
            c["spill_bytes"] = c.get("spill_bytes", 0) + st.diskBytesSpilled()
        return failed

    def layer_metrics(self, n_passes: int, setup_spans: int) -> dict[str, float]:
        """Per-layer totals per traced pass. Spans recorded during set-up
        (the first `setup_spans`) count once, not per pass."""
        out = {f"{layer}.{q}": 0.0 for layer, qs in LAYERS.items() for q in qs}
        for i, s in enumerate(self.spans):
            scale = 1.0 if i < setup_spans else 1.0 / n_passes
            qs = LAYERS.get(s.layer)
            if qs is None:
                continue
            dur = s.end - s.start
            vals = dict(s.counts)
            vals["py4j_calls"] = s.py4j
            if s.kind == "build":
                vals["build_s"] = dur
                vals["build_jobs"] = s.counts.get("jobs", 0)
            else:
                vals["plan_s"] = s.plan_s
                vals["exec_s"] = max(0.0, dur - s.action_plan_s)
                vals["files_written"] = s.files
                vals["bytes_written"] = s.bytes
            for q in qs:
                if q in vals:
                    out[f"{s.layer}.{q}"] += vals[q] * scale
        return out


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def dir_bytes(path: str) -> int:
    return _dir_usage(path)[1] if os.path.isdir(path) else 0


def descendants(pid: int) -> set[int]:
    """Every live process below `pid`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def peak_rss_mb(pids) -> dict[str, float]:
    """Peak resident set size (VmHWM) of each process, keyed by
    "<pid> <command name>"."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:  # a zombie has no memory fields
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
