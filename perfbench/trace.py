"""Outside-in collectors: /proc readers, the span recorder, the
``run_pipeline`` stage reporter and the Spark event-log parser.

Standard library only.  Nothing here changes what the program computes: a
span sets a Spark job label for its duration (restoring the previous one,
because ``setJobDescription`` is sticky), snapshots JVM and Python-worker
CPU from ``/proc`` at both ends, and records name, start, end, parent and
operation id in memory.  The event log is parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
LABEL_PREFIX = "perfbench|"


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if the
    process is gone.  Index 1 is ppid, 11-14 utime/stime/cutime/cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class ProcTree:
    """The benchmark's own process tree: this Python process (the Spark
    driver), the JVM it launched, and the Python workers below the JVM."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def cpu(self) -> tuple[float, float]:
        """-> (JVM CPU s, Python-worker CPU s), both cumulative.  Workers
        that already exited are counted through their parents' cutime and
        cstime (the worker daemon reaps its forks; the JVM reaps daemons)."""
        jvm = _stat(self.jvm)
        if jvm is None:
            return 0.0, 0.0
        jvm_ticks = int(jvm[11]) + int(jvm[12])
        py_ticks = int(jvm[13]) + int(jvm[14])
        for pid in descendants(self.jvm):
            st = _stat(pid)
            if st is not None:
                py_ticks += sum(int(x) for x in st[11:15])
        return jvm_ticks / _TICK, py_ticks / _TICK

    def pids(self) -> list[int]:
        return [os.getpid(), self.jvm, *descendants(self.jvm)]

    def reset_peak_rss(self) -> None:
        """Reset VmHWM of every process in the tree (``clear_refs`` 5).  Where
        the kernel refuses, that process reports its lifetime peak."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM since the last reset, in MB (2**20): summed over the tree
        (``total``) and split into driver, JVM and Python workers."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            part = ("driver" if pid == os.getpid()
                    else "jvm" if pid == self.jvm else "workers")
            out[part] += kb / 1024.0
            out["n_workers"] += part == "workers"
        out["total"] = out["driver"] + out["jvm"] + out["workers"]
        return out


def host_snapshot() -> dict:
    load = os.getloadavg()
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(value.split()[0]) // 1024
    return {
        "loadavg": [round(x, 2) for x in load],
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    cpu0: tuple[float, float]
    end: float = 0.0
    cpu1: tuple[float, float] = (0.0, 0.0)
    rows: int = 0
    counters: dict = field(default_factory=dict)


class SpanRecorder:
    """Nested spans kept in memory.  Each open span labels the Spark jobs
    started under it ``perfbench|<op>|<layer>``."""

    def __init__(self, sc, proc: ProcTree):
        self.sc = sc
        self.proc = proc
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str | None]] = []
        self.op = 0

    def open(self, name: str) -> Span:
        prev = self.sc.getLocalProperty("spark.job.description")
        parent = self._stack[-1][0].sid if self._stack else None
        span = Span(len(self.spans), name, self.op, parent, time.perf_counter(),
                    self.proc.cpu())
        self.spans.append(span)
        self._stack.append((span, prev))
        self.sc.setJobDescription(f"{LABEL_PREFIX}{self.op}|{name}")
        return span

    def close(self, span: Span) -> None:
        top, prev = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        span.cpu1 = self.proc.cpu()
        span.end = time.perf_counter()
        self.sc.setJobDescription(prev)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def self_times(self, op: int) -> dict[str, dict[str, float]]:
        """Per layer of one operation: self wall, JVM CPU and Python CPU
        (a span's total minus what its child spans cover), and rows."""
        out: dict[str, dict[str, float]] = {}
        spans = [s for s in self.spans if s.op == op]
        for s in spans:
            wall = s.end - s.start
            jvm = s.cpu1[0] - s.cpu0[0]
            py = s.cpu1[1] - s.cpu0[1]
            for c in spans:
                if c.parent == s.sid:
                    wall -= c.end - c.start
                    jvm -= c.cpu1[0] - c.cpu0[0]
                    py -= c.cpu1[1] - c.cpu0[1]
            layer = out.setdefault(s.name, {"wall_s": 0.0, "cpu_s": 0.0,
                                            "python_s": 0.0, "rows": 0})
            layer["wall_s"] += wall
            layer["cpu_s"] += jvm
            layer["python_s"] += py
            layer["rows"] += s.rows
        return out

    def counters(self, op: int) -> dict[str, int]:
        merged: dict[str, int] = {}
        for s in self.spans:
            if s.op == op:
                for k, v in s.counters.items():
                    merged[k] = merged.get(k, 0) + v
        return merged

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "rows": s.rows,
                    "jvm_cpu_s": s.cpu1[0] - s.cpu0[0],
                    "python_cpu_s": s.cpu1[1] - s.cpu0[1],
                }) + "\n")


# run_pipeline stage -> the layer its bracket is charged to (README.md)
STAGE_LAYER = {
    "records": "functions.embed",
    "blocks": "operators.blocking",
    "pairs": "operators.pairs",
    "scored": "plans.pipeline.score",
    "reranked": "plans.pipeline.rerank",
    "edges": "plans.pipeline.rerank",
    "clusters": "operators.cluster",
}
_STAGE_START = re.compile(r"^stage (\w+)$")
_STAGE_COUNT = re.compile(r"^stage (\w+): (\w+)=(\d+)$")


def stage_reporter(recorder: SpanRecorder):
    """An ``IReporter`` for ``run_pipeline``: each ``stage <name>`` message
    opens that stage's layer span and closes the previous one, so jobs run
    between two stages (the dropped-blocks audit after ``pairs``) stay with
    the stage before them.  ``stop_progress`` closes the last span."""
    from semantic_entity_matching_spark.plans.reporting import IReporter

    class StageReporter(IReporter):
        def __init__(self):
            self.current: Span | None = None

        def _close(self):
            if self.current is not None:
                recorder.close(self.current)
                self.current = None

        def on_message(self, *messages: str) -> None:
            text = " ".join(messages)
            m = _STAGE_COUNT.match(text)
            if m and self.current is not None:
                self.current.rows += int(m.group(3))
                self.current.counters[m.group(2)] = int(m.group(3))
                return
            m = _STAGE_START.match(text)
            if m:
                self._close()
                self.current = recorder.open(STAGE_LAYER[m.group(1)])

        def stop_progress(self) -> None:
            self._close()

    return StageReporter()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def parse_event_log(log_dir: str) -> dict[tuple[int, str], dict[str, float]]:
    """-> {(op, layer): jobs, task_s, gc_s, shuffle_write_mb, spill_mb} from
    an uncompressed Spark event log.  A stage belongs to the first job that
    lists it (later jobs that list it skipped it); a job belongs to the
    label it was started under."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".")
    )
    job_label: dict[int, tuple[int, str]] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, list[float]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith(LABEL_PREFIX):
                        _, op, layer = desc.split("|", 2)
                        job_label[ev["Job ID"]] = (int(op), layer)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    tm = ev.get("Task Metrics") or {}
                    acc = stage_metrics.setdefault(ev["Stage ID"], [0.0, 0.0, 0.0, 0.0])
                    acc[0] += tm.get("Executor Run Time", 0) / 1e3
                    acc[1] += tm.get("JVM GC Time", 0) / 1e3
                    acc[2] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    acc[3] += tm.get("Disk Bytes Spilled", 0) / 2**20
    out: dict[tuple[int, str], dict[str, float]] = {}
    for job, key in job_label.items():
        out.setdefault(key, {"jobs": 0, "task_s": 0.0, "gc_s": 0.0,
                             "shuffle_write_mb": 0.0, "spill_mb": 0.0})["jobs"] += 1
    for sid, acc in stage_metrics.items():
        key = job_label.get(stage_job.get(sid, -1))
        if key is None:
            continue
        m = out[key]
        m["task_s"] += acc[0]
        m["gc_s"] += acc[1]
        m["shuffle_write_mb"] += acc[2]
        m["spill_mb"] += acc[3]
    return out
