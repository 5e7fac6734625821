"""Measurements taken from outside the engine.

Nothing here reaches into the engine's code: the probes read the Spark
status tracker, the Catalyst phase tracker of a DataFrame, a
``StreamingQueryListener``, the Spark event log, ``/proc`` and the file
system.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

# --- process tree CPU and memory -----------------------------------------------


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks: user + system of the process and of
    its reaped children) for every live process."""
    stats: dict[int, tuple[int, int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            stats[int(stat.split("/")[2])] = (int(fields[1]), sum(map(int, fields[11:15])))
        except (OSError, IndexError, ValueError):
            continue
    return stats


def _tree_pids(root: int, stats: dict | None = None) -> list[int]:
    """``root`` and all its descendants (the JVM and the Python workers
    the JVM forks)."""
    children = defaultdict(list)
    for pid, (ppid, _) in (stats or _proc_stats()).items():
        children[ppid].append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included. Time that
    other processes, and under paravirtual steal accounting other guests
    of the hypervisor, take from the run is not in it, so it moves far
    less than wall time when the host is busy."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree_pids(os.getpid(), stats) if p in stats) * TICK_S


def _rss_bytes(pid: int) -> int:
    """RSS of one process (``statm``: no page-table walk); 0 if gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the RSS of this process tree in a thread; ``peak`` holds
    the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, sum(map(_rss_bytes, _tree_pids(me))))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- status tracker and Catalyst ----------------------------------------------


def group_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks the status tracker holds for a job group.
    Stages a job skipped (already computed) count neither as stages nor
    as tasks."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    seen: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if sid in seen or stage is None:
                continue
            seen.add(sid)
            done = stage.numCompletedTasks + stage.numFailedTasks
            if done:
                stages += 1
                tasks += done
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df) -> dict:
    """Catalyst phase durations recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --- streaming ----------------------------------------------------------------


class DrainListener(StreamingQueryListener):
    """Collects micro-batch progress per query run and signals when a run
    has terminated; progress must be read only after that signal, since
    listener events arrive asynchronously."""

    def __init__(self):
        self.progress: dict[str, list] = defaultdict(list)
        self._done: dict[str, threading.Event] = defaultdict(threading.Event)
        self.started: list[str] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress[str(p.runId)].append(
                {
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            done = self._done[str(event.runId)]
        done.set()

    def wait(self, run_id: str, timeout_s: float = 60.0) -> list:
        with self._lock:
            done = self._done[run_id]
        if not done.wait(timeout_s):
            raise TimeoutError(f"no terminated event for streaming run {run_id}")
        with self._lock:
            return list(self.progress[run_id])


def batch_summary(batches: list) -> dict:
    """Per-drain streaming layer numbers from its micro-batch progress."""
    def dur(b, *keys):
        return sum(b["duration_ms"].get(k, 0) for k in keys)

    data = [b for b in batches if b["input_rows"] > 0]
    return {
        "streaming.batches": len(data),
        "streaming.batch_s": sum(dur(b, "triggerExecution") for b in data) / 1000,
        "streaming.add_batch_ms": float(sum(dur(b, "addBatch") for b in data)),
        "streaming.commit_ms": float(
            sum(dur(b, "walCommit", "commitOffsets") for b in data)
        ),
        "streaming.state_rows": data[-1]["state_rows"] if data else 0,
        "streaming.state_bytes": data[-1]["state_bytes"] if data else 0,
    }


# --- event log ----------------------------------------------------------------

_PYTHON_NODES = ("Python", "Pandas", "Arrow")


def _python_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the row-count metric on plan nodes that run
    Python workers."""
    if any(k in plan.get("nodeName", "") for k in _PYTHON_NODES):
        for m in plan.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


def parse_event_log(log_dir: str, group_of_run: dict) -> dict:
    """Per job group executor metrics from the (uncompressed, single
    file) event log in ``log_dir``. Streaming jobs carry their run id as
    job group; ``group_of_run`` maps it to the op's group."""
    (path,) = [
        p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")
    ]
    stage_group: dict[int, str] = {}
    py_acc: set[int] = set()
    per = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                group = group_of_run.get(group, group)
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_accumulators(ev["sparkPlanInfo"], py_acc)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                rec = per[group]
                rec["exec.cpu_ms"] += tm["Executor CPU Time"] / 1e6
                rec["exec.run_ms"] += tm["Executor Run Time"]
                rec["exec.gc_ms"] += tm["JVM GC Time"]
                rec["exec.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                sr = tm["Shuffle Read Metrics"]
                rec["exec.shuffle_read_bytes"] += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                )
                rec["exec.shuffle_write_bytes"] += tm["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"
                ]
                rec["exec.spill_bytes"] += (
                    tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                )
                rec["exec.peak_exec_mem_bytes"] = max(
                    rec["exec.peak_exec_mem_bytes"], tm["Peak Execution Memory"]
                )
                for acc in ev["Task Info"].get("Accumulables", ()):
                    if acc.get("ID") in py_acc:
                        rec["functions.python_rows"] += float(acc.get("Update", 0))
    return {g: dict(v) for g, v in per.items()}


# --- file system --------------------------------------------------------------


def tree_usage(root: str, data_only: bool = False) -> dict:
    """Bytes, files and directories under ``root``. With ``data_only``,
    hidden and ``_``-prefixed bookkeeping files are skipped."""
    nbytes = files = dirs = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirs += len(dirnames)
        for name in filenames:
            if data_only and name.startswith((".", "_")):
                continue
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                continue
            files += 1
    return {"bytes": nbytes, "files": files, "dirs": dirs}


class Clock:
    """Wall time of named sections, summed per name."""

    def __init__(self):
        self.s: dict[str, float] = defaultdict(float)

    def timed(self, name: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.s[name] += time.perf_counter() - t0

        return wrapper

