"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload curation_iterative --seed 1 --seconds 1 --trace 0

One Spark driver process runs the workload on ``local[<cpus>]`` as a
closed loop with one client: each op starts when the previous one has
finished and its output has been checked. The first pass is the cold
pass; steady passes follow until ``--seconds`` have gone by and the
workload's minimum number of steady passes has run. The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of the cold and the
first steady pass with ``--trace 1``. Times are CPU seconds of the
process tree, which a busy host moves far less than wall time; wall
times are kept in the record. The full record, one entry per op, is
written to ``.perfbench_work/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "dend_covid19_spark")
STAGE_REPEATS = 3
TAIL_PERCENTILE = 90
ORIGINAL_CPUS_ENV = os.environ.get("SPARK_GRAFT_CPUS")
LOADAVG_START = os.getloadavg()

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_p50_cpu_s": "s",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "exec.action_s": "s",
    "exec.cpu_ms": "ms",
    "exec.run_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "functions.python_rows": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "scratch.bytes": "bytes",
    "scratch.dirs": "count",
    "trace.pass_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """Identifies the engine source when the checkout is not a git tree."""
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in sorted(os.walk(PACKAGE)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def configure_env(work: str, traced: bool, cpus: int) -> None:
    """Keep every file the run writes under ``work`` and fix the engine's
    core count, before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    time.tzset()
    confs = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
            # C1 only and one GC thread: with C2 the JVM was still
            # compiling after eight passes at this data size, and how far
            # it got moved a pass's CPU time from run to run
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to a kill
            proc.kill()
            proc.wait(timeout=30)


def tail_latency(samples: list[float]) -> tuple[float, dict]:
    """Nearest-rank TAIL_PERCENTILE of per-op wall or CPU times, and how
    many samples lie beyond it."""
    xs = sorted(samples)
    rank = max(1, math.ceil(TAIL_PERCENTILE / 100 * len(xs)))
    return xs[rank - 1], {
        "percentile": TAIL_PERCENTILE,
        "samples": len(xs),
        "samples_beyond": len(xs) - rank,
    }


class Runner:
    """Runs the passes of one workload and keeps one record per op."""

    def __init__(self, spark, workload, traced: bool):
        self.spark, self.wl, self.traced = spark, workload, traced
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self.group_of_run: dict[str, str] = {}
        self.listener = None
        if traced:
            self.listener = probes.DrainListener()
            spark.streams.addListener(self.listener)

    def _group(self, pass_no: int, op: str):
        @contextmanager
        def group(phase: str):
            self.sc.setJobGroup(f"pb:{pass_no}:{op}:{phase}", op)
            try:
                yield
            finally:
                self.sc.setJobGroup("pb:check", "output checks")

        return group

    def run_pass(self, pass_no: int) -> tuple[float, float]:
        """Runs one pass; returns its wall and CPU seconds, op by op
        summed, so the checks between ops count in neither."""
        total = cpu = 0.0
        for op in self.wl.ops(pass_no):
            rec = {"op": op, "pass": pass_no, "ok": False}
            started = len(self.listener.started) if self.listener else 0
            try:
                cpu0 = probes.tree_cpu_s()
                out = self.wl.run_op(op, pass_no, self._group(pass_no, op))
                rec["cpu_s"] = probes.tree_cpu_s() - cpu0
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc()
                rec["error"] = repr(exc)[:500]
                self.records.append(rec)
                continue
            rec.update(
                latency_s=out.build_s + out.action_s,
                build_s=out.build_s,
                action_s=out.action_s,
            )
            total += rec["latency_s"]
            cpu += rec["cpu_s"]
            try:
                rec["ok"] = bool(self.wl.check_op(op, out))
            except Exception as exc:  # noqa: BLE001
                traceback.print_exc()
                rec["error"] = repr(exc)[:500]
            for phase in ("build", "run"):
                rec[f"{phase}_counts"] = probes.group_counts(
                    self.sc, f"pb:{pass_no}:{op}:{phase}"
                )
            if self.traced:
                rec["catalyst"] = out.catalyst
                rec["clock"] = out.extra
                self._streaming(rec, started)
            if not rec["ok"]:
                print(f"perfbench: op {op} (pass {pass_no}) failed its check", file=sys.stderr)
            self.records.append(rec)
        return total, cpu

    def _streaming(self, rec: dict, started: int) -> None:
        """Per-drain micro-batch numbers, read after each run terminated."""
        run_ids = self.listener.started[started:]
        if not run_ids:
            return
        group = f"pb:{rec['pass']}:{rec['op']}:run"
        batches = []
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        for rid in run_ids:
            batches += self.listener.wait(rid)
            self.group_of_run[rid] = group
            for k, v in probes.group_counts(self.sc, rid).items():
                counts[k] += v
        rec["stream_counts"] = counts
        rec["batches"] = batches
        rec["streaming"] = probes.batch_summary(batches)


def cache_flags(records: list[dict]) -> list[dict]:
    """Ops whose steady passes launch no build jobs after a cold pass that
    launched several: their steady latency times a per-process cache."""
    by_op: dict[str, dict] = {}
    for r in records:
        if "build_counts" not in r:
            continue
        slot = by_op.setdefault(r["op"], {"cold": None, "steady": []})
        jobs = r["build_counts"]["jobs"] + r["run_counts"]["jobs"]
        build = r["build_counts"]["jobs"]
        if r["pass"] == 0:
            slot["cold"] = (build, jobs)
        else:
            slot["steady"].append((build, jobs))
    flags = []
    for op, s in by_op.items():
        if s["cold"] and s["steady"]:
            entry = {
                "op": op,
                "cold_build_jobs": s["cold"][0],
                "cold_jobs": s["cold"][1],
                "steady_build_jobs": [b for b, _ in s["steady"]],
                "steady_jobs": [j for _, j in s["steady"]],
            }
            entry["cached"] = s["cold"][0] >= 2 and not any(entry["steady_build_jobs"])
            flags.append(entry)
    return flags


def layer_metrics(records: list[dict], event_metrics: dict, usage: dict) -> dict:
    """Per-layer sums over the ops of the cold pass and the first steady
    pass: the same ops on every run, so counts repeat exactly.
    ``trace.pass_cpu_s`` is the first steady pass alone, to set against
    the untraced ``pass_cpu_s``."""
    m = {k: 0.0 for k in PER_LAYER}
    for r in records:
        if r["pass"] > 1 or "latency_s" not in r:
            continue
        if r["pass"] == 1:
            m["trace.pass_cpu_s"] += r["cpu_s"]
        m["plans.build_s"] += r["build_s"]
        m["exec.action_s"] += r["action_s"]
        m["plans.build_jobs"] += r["build_counts"]["jobs"]
        for c in (r["build_counts"], r["run_counts"], r.get("stream_counts", {})):
            for k, v in c.items():
                m[f"scheduler.{k}"] += v
        for phase, ms in r.get("catalyst", {}).items():
            m[f"catalyst.{phase}_ms"] += ms
        for k, v in r.get("streaming", {}).items():
            if k in m:
                m[k] += v
        for phase in ("build", "run"):
            for k, v in event_metrics.get(f"pb:{r['pass']}:{r['op']}:{phase}", {}).items():
                if k == "exec.peak_exec_mem_bytes":
                    m[k] = max(m[k], v)
                elif k in m:
                    m[k] += v
    m.update(usage)
    return m


def run_conditions(args, cpus: int, spark) -> dict:
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "caller_SPARK_GRAFT_CPUS": ORIGINAL_CPUS_ENV,
        "loadavg_start": LOADAVG_START,
        "loadavg_end": os.getloadavg(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "source_digest": source_digest(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "session.py")):
        print(f"perfbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, traced, cpus)
    sys.path.insert(0, ROOT)

    # the sampler thread takes the GIL, so it runs in traced runs only
    with probes.RssSampler() if traced else nullcontext() as rss:
        from dend_covid19_spark import plans  # noqa: F401 — before pipeline (import cycle)
        from dend_covid19_spark import scratch
        from dend_covid19_spark.session import get_spark

        t_session = process_age_s()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = process_age_s() - t_session
        try:
            wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, traced)
            stage_s, stage_cpu = [], []
            for attempt in range(STAGE_REPEATS):
                t0, cpu0 = time.perf_counter(), probes.tree_cpu_s()
                wl.stage(attempt)
                stage_s.append(time.perf_counter() - t0)
                stage_cpu.append(probes.tree_cpu_s() - cpu0)
            t_warm = time.perf_counter()
            wl.warm()
            t_warm = time.perf_counter() - t_warm
            runner = Runner(spark, wl, traced)
            setup_wall_s = process_age_s() - sum(stage_s) + statistics.median(stage_s)
            setup_s = probes.tree_cpu_s() - sum(stage_cpu) + statistics.median(stage_cpu)

            cold_pass_s, cold_cpu_s = runner.run_pass(0)
            usage_cold = probes.tree_usage(scratch.SCRATCH_ROOT)
            steady, t_start, pass_no = [], time.perf_counter(), 1
            while pass_no <= wl.steady_passes or time.perf_counter() - t_start < args.seconds:
                steady.append(runner.run_pass(pass_no))
                pass_no += 1
            usage_last = probes.tree_usage(scratch.SCRATCH_ROOT)
            usage = {
                "scratch.bytes": usage_last["bytes"],
                "scratch.dirs": usage_last["dirs"],
                **wl.layer_usage(),
            }
            conditions = run_conditions(args, cpus, spark)
        finally:
            stop_spark(spark)

    records = runner.records
    event_metrics = {}
    if traced:
        event_metrics = probes.parse_event_log(
            os.path.join(work, "eventlog"), runner.group_of_run
        )
        for r in records:
            for phase in ("build", "run"):
                r.update(
                    {f"{phase}.{k}": v for k, v in
                     event_metrics.get(f"pb:{r['pass']}:{r['op']}:{phase}", {}).items()}
                )
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    timed = [r for r in records if r["pass"] > 0 and "latency_s" in r]
    steady_lat = [r["latency_s"] for r in timed]
    steady_cpu = [r["cpu_s"] for r in timed]
    tail, tail_info = tail_latency(steady_cpu)
    record = {
        "conditions": conditions,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted,
        "steady_passes": len(steady),
        "pass_cpu_s": [c for _, c in steady],
        "op_tail_cpu_s": tail,
        "op_tail": tail_info,
        "wall": {
            "setup_s": setup_wall_s,
            "cold_pass_s": cold_pass_s,
            "pass_s": [w for w, _ in steady],
            "op_p50_s": statistics.median(steady_lat),
            "op_tail_s": tail_latency(steady_lat)[0],
        },
        "setup_parts_s": {
            "session": t_session, "stage": stage_s, "stage_cpu": stage_cpu, "warm": t_warm,
        },
        "scratch_after_cold": usage_cold,
        "cache_flags": cache_flags(records),
        "ops": records,
    }
    for f in record["cache_flags"]:
        if f["cached"]:
            print(
                f"perfbench: {f['op']} launched {f['cold_build_jobs']} build jobs cold and "
                "none in steady passes: its steady latency times a per-process cache",
                file=sys.stderr,
            )
    if traced:
        values = layer_metrics(records, event_metrics, usage)
        values["proc.peak_rss_mb"] = rss.peak / 1e6
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_cpu_s": cold_cpu_s,
            "pass_cpu_s": statistics.median(record["pass_cpu_s"]),
            "op_p50_cpu_s": statistics.median(steady_cpu),
        }
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    record["metrics"] = metrics
    _save_record(base, args, record)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _save_record(base: str, args, record: dict) -> None:
    """Write the run's record; a traced run also reports its overhead
    against the untraced record of the same workload and seed, if any."""
    out_dir = os.path.join(base, "records")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}"
    if args.trace:
        try:
            with open(os.path.join(out_dir, f"{stem}-t0.json")) as f:
                untraced = json.load(f)["pass_cpu_s"][0]
            traced = record["metrics"]["trace.pass_cpu_s"]["value"]
            record["trace_overhead"] = {
                "untraced_pass_cpu_s": untraced,
                "traced_pass_cpu_s": traced,
                "ratio": traced / untraced,
            }
            print(f"perfbench: tracing overhead {traced / untraced - 1:+.1%}", file=sys.stderr)
        except (OSError, KeyError, ValueError):
            pass
    with open(os.path.join(out_dir, f"{stem}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)


if __name__ == "__main__":
    raise SystemExit(main())
