"""Measurement instruments that sit outside the engine.

Everything here observes the engine through its public surfaces: a
``WarehouseFS`` wrapper handed to ``Engine.fs``, Spark's status tracker
and event log, and a ``StreamingQueryListener``.  No engine file is
changed; the traced run's only reach inside is wrapping two module
bindings at run time (``run.install_span_wrappers``).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from cubefs_hadoop_spark.fs import WarehouseFS

class CountingFS(WarehouseFS):
    """Delegating ``WarehouseFS`` that counts calls per verb, time spent
    inside the backend, metadata bytes written, and refused
    ``create_if_absent`` publishes (optimistic-commit conflicts)."""

    def __init__(self, inner: WarehouseFS):
        self.inner = inner
        self.calls: dict[str, int] = defaultdict(int)
        self.busy_s = 0.0
        self.bytes_written = 0
        self.conflicts = 0

    def snapshot(self) -> dict:
        return {
            "calls": dict(self.calls),
            "busy_s": self.busy_s,
            "bytes_written": self.bytes_written,
            "conflicts": self.conflicts,
        }

    def _timed(self, verb: str, fn, *args, **kw):
        self.calls[verb] += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.busy_s += time.perf_counter() - t0

    def join(self, *parts: str) -> str:
        return self.inner.join(*parts)

    def exists(self, path):
        return self._timed("exists", self.inner.exists, path)

    def is_dir(self, path):
        return self._timed("is_dir", self.inner.is_dir, path)

    def mkdirs(self, path):
        return self._timed("mkdirs", self.inner.mkdirs, path)

    def list_dir(self, path):
        return self._timed("list_dir", self.inner.list_dir, path)

    def rename(self, src, dst):
        return self._timed("rename", self.inner.rename, src, dst)

    def delete(self, path, recursive=True):
        return self._timed("delete", self.inner.delete, path, recursive)

    def walk_files(self, path):
        # materialized so the time spent walking lands inside the span
        return iter(self._timed("walk_files", lambda: list(self.inner.walk_files(path))))

    def read_text(self, path):
        return self._timed("read_text", self.inner.read_text, path)

    def write_text(self, path, text):
        self.bytes_written += len(text.encode("utf-8"))
        return self._timed("write_text", self.inner.write_text, path, text)

    def create_if_absent(self, path, text):
        ok = self._timed("create_if_absent", self.inner.create_if_absent, path, text)
        if ok:
            self.bytes_written += len(text.encode("utf-8"))
        else:
            self.conflicts += 1
        return ok

    def cleanup_empty_dirs(self, root, min_age_ms=0):
        return self._timed(
            "cleanup_empty_dirs", self.inner.cleanup_empty_dirs, root, min_age_ms
        )

    def status(self, path):
        return self.inner.status(path)


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress event (run id, batch id,
    ``durationMs`` phases, input rows)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": int(p.batchId),
            "rows": int(p.numInputRows),
            "ms": {k: int(v) for k, v in dict(p.durationMs).items()},
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Block until ``n`` progress events arrived (the bus delivers
        them asynchronously), then return a copy."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.progress) >= n:
                    return list(self.progress)
            time.sleep(0.02)
        with self._lock:
            return list(self.progress)


def tracker_counts(sc, group: str) -> dict:
    """Jobs and completed-task counts of one job group, read through
    Spark's status tracker (stages skipped by stage reuse count 0)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            if s in stages:
                continue
            stages.add(s)
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "tasks": tasks}


def interval_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in write order: a single file, or the ``events_<n>_<app>`` parts of a
    rolling ``eventlog_v2_<app>/`` directory."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    if os.path.isfile(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _lines(paths):
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def fold_event_log(log_dir: str) -> dict:
    """Fold one application's Spark event log (standard library only).

    Returns ``{"jobs": [...], "groups": {...}}``: every job with its job
    group, submit/end wall-clock seconds and stage ids; and per job group
    the jobs, stages and successful tasks run, executor run/CPU/GC time,
    input, shuffle and spill bytes.  Tasks attach to a group through
    stage -> first job that listed the stage -> ``spark.jobGroup.id``."""
    paths = event_log_files(log_dir)
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": set(), "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    })
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            t = ev["Submission Time"] / 1000.0
            jobs[ev["Job ID"]] = {"group": group, "submit": t, "end": t,
                                  "stages": list(ev.get("Stage IDs", []))}
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            rec = groups[stage_group.get(ev["Stage ID"], "")]
            rec["stages"].add(ev["Stage ID"])
            if (ev.get("Task End Reason") or {}).get("Reason") == "Success":
                rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return {"jobs": list(jobs.values()), "groups": dict(groups)}


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_states() -> dict[int, tuple[str, int]]:
    """``pid -> (state, ppid)`` for every process in ``/proc``."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (fields[0], int(fields[1]))
    return out


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (the driver JVM is one)."""
    return [p for p, (_, ppid) in _proc_states().items() if ppid == pid]


def descendant_pids(pid: int) -> set[int]:
    """Every live process below ``pid``: the driver JVM and the Python
    workers it forks."""
    procs = _proc_states()
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, (st, ppid) in procs.items()
                    if ppid in frontier and st != "Z" and p not in out}
        out |= frontier
    return out


def live_pids(pids) -> set[int]:
    """The members of ``pids`` that still run (zombies count as ended)."""
    procs = _proc_states()
    return {p for p in pids if p in procs and procs[p][0] != "Z"}


def peak_rss_mb() -> float:
    """High-water resident set of this Python process plus its child
    processes (the driver JVM), from ``/proc``."""
    kb = _status_kb("self", "VmHWM")
    kb += sum(_status_kb(p, "VmHWM") for p in child_pids(os.getpid()))
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started, from ``/proc``."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])
