"""Spans around calls into the engine's layers, and the Spark event log
folded onto them.

A traced run wraps the package functions the workloads call (and the ones
those call across module boundaries) in spans. Each span sets the Spark job
group to its own id, so every job in the event log names the innermost span
that started it. After the run, ``fold`` reads the uncompressed event log
and sums, per span and its descendants, the jobs, tasks and task metrics,
and the files and bytes their calls wrote or were asked to read;
``layer_totals`` then adds up those inclusive figures per layer and pass.
A QueryExecutionListener records the Catalyst phase times of each write.

Spans are kept in memory and written out when the run ends. An untraced run
uses ``NullTracer``, whose spans cost one generator frame.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


PHASES = ("analysis", "optimization", "planning")


def phase_ms(qe) -> dict:
    """Catalyst phase times (ms) recorded by a QueryExecution's tracker;
    reading them plans nothing."""
    phases = qe.tracker().phases()
    out = {}
    for phase in PHASES:
        summary = phases.get(phase)  # a Scala Option
        out[f"{phase}_ms"] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def write_phases(self, df) -> dict:
        return {}


class PlanningListener:
    """A QueryExecutionListener, served by py4j's callback server, that
    keeps the phase times of every write that succeeds while it is
    registered. Spark calls it from its listener bus after the execution
    ends, with the write's own QueryExecution."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self):
        self.writes: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        if func_name in ("overwrite", "append", "save"):
            self.writes.append(phase_ms(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listeners = spark._jsparkSession.listenerManager()
        self._planning = PlanningListener()

    def listen(self) -> None:
        self._listeners.register(self._planning)

    def write_phases(self, df) -> dict:
        """Phase times of the write just made from ``df``: analysis is the
        DataFrame's own (Spark analyses a query when it is built) plus the
        write's; optimization and planning are the write's, as its
        QueryExecution recorded them."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = phase_ms(df._jdf.queryExecution())
        write = self._planning.writes[-1]  # earlier ones are other layers' writes
        self._planning.writes.clear()
        out["analysis_ms"] += write["analysis_ms"]
        out["optimization_ms"] = write["optimization_ms"]
        out["planning_ms"] = write["planning_ms"]
        return out

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"span-{top}", self.spans[top]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def patch(self, owner, attr: str, name: str, tag=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``tag(args, kwargs, result)`` returns attributes for the span:
        ``path``, the directory the call wrote, or ``read_path``, the file,
        directory or list of them it was asked to read; ``fold`` measures
        them on disk after the run."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if tag is not None:
                    rec.update(tag(args, kwargs, result))
                return result

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        """Undo every patch and stop listening."""
        self._listeners.unregister(self._planning)
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


_TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "output_bytes", "input_bytes")


def read_event_log(path: str) -> list[dict]:
    """Jobs with their group, interval (epoch seconds) and summed task
    metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = {"id": jid, "group": props.get("spark.jobGroup.id"),
                             "start": e["Submission Time"] / 1000.0, "end": None,
                             **{k: 0 for k in _TASK_FIELDS}}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["executor_run_s"] += m["Executor Run Time"] / 1e3
                job["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1e3
                job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill_bytes"] += m["Disk Bytes Spilled"]
                job["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                job["input_bytes"] += m["Input Metrics"]["Bytes Read"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written directory; Spark's markers and
    checksums are not data."""
    files = n_bytes = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            n_bytes += os.path.getsize(os.path.join(root, name))
    return files, n_bytes


def path_bytes(paths) -> int:
    """Bytes on disk of a file, a directory or a list of them."""
    if isinstance(paths, (list, tuple)):
        return sum(path_bytes(p) for p in paths)
    if os.path.isfile(paths):
        return os.path.getsize(paths)
    return dir_files(paths)[1]


# measured on the span's own ``path`` / ``read_path``, then summed over
# its subtree like the job figures
_DISK_FIELDS = ("files_written", "bytes_on_disk", "read_bytes")


def fold(spans: list[dict], jobs: list[dict]) -> None:
    """Attach to every span the inclusive figures of its subtree: ``jobs``,
    the task sums, the files and bytes its calls wrote and the bytes they
    were asked to read, and ``driver_gap_s`` (span time not covered by any
    of its jobs). A job belongs to the span named by its job group."""
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own = defaultdict(list)
    for j in jobs:
        if j["group"] and j["group"].startswith("span-") and int(j["group"][5:]) in by_id:
            own[int(j["group"][5:])].append(j)
    disk = {}
    for s in spans:
        files, written = dir_files(s["path"]) if s.get("path") else (0, 0)
        disk[s["id"]] = {"files_written": files, "bytes_on_disk": written,
                         "read_bytes": path_bytes(s["read_path"]) if s.get("read_path") else 0}

    def subtree(sid: int) -> list[int]:
        out = [sid]
        for c in children[sid]:
            out += subtree(c)
        return out

    for s in spans:
        ids = subtree(s["id"])
        js = [j for i in ids for j in own[i]]
        s["jobs"] = len(js)
        for k in _TASK_FIELDS:
            s[k] = sum(j[k] for j in js)
        for k in _DISK_FIELDS:
            s[k] = sum(disk[i][k] for i in ids)
        covered = _union_length([
            (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in js if (j["end"] or s["end"]) > s["start"] and j["start"] < s["end"]
        ])
        s["call_s"] = s["end"] - s["start"]
        s["driver_gap_s"] = max(0.0, s["call_s"] - covered)


def pass_of(spans: list[dict]) -> dict[int, int]:
    """Span id -> index of the root ``pass`` span it belongs to."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] == "pass":
            out[s["id"]] = root["index"]
    return out


def layer_totals(spans: list[dict], name: str) -> list[dict]:
    """Per measured pass, the sums over the spans named ``name`` (spans of
    one layer do not nest in one another)."""
    passes = pass_of(spans)
    sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["name"] == name and s["id"] in passes:
            acc = sums[passes[s["id"]]]
            acc["calls"] += 1
            for k in ("call_s", "driver_gap_s", "jobs", "analysis_ms", "optimization_ms",
                      "planning_ms", *_DISK_FIELDS, *_TASK_FIELDS):
                acc[k] += s.get(k, 0)
    return [dict(v) for _, v in sorted(sums.items())]
