"""Profile registered queries: wall time, Spark job counts and a CPU split.

Usage:
    python scripts/profile_query.py name1 name2 ...
    SPARK_GRAFT_PROFILE_RUNS=3 python scripts/profile_query.py name1

For each query: builds the DataFrame fresh each run, runs it through the
noop sink (the bench's timed action), and reports per-run wall seconds
plus how many jobs the run scheduled, split into build jobs (launched
before the builder returned: its eager counts, collects and lineage
cuts) and run jobs (the action's), both counted by job id (see
``last_job_id``) — fixed scheduling overhead vs data work is the first
split the optimization guide asks for. The last line sums run 0's build
jobs over every named query; ``SPARK_GRAFT_PROFILE_RUNS=0`` skips the
steady runs, so

    SPARK_GRAFT_PROFILE_RUNS=0 python scripts/profile_query.py $(python -c \
        "from dend_covid19_spark import plans; print(*plans.all_queries())")

is the registry-wide build-job count.

Each run's CPU seconds are then split four ways, read from ``/proc``
over this process tree: ``driver_py`` (this Python process), ``jvm`` (its
children: the JVM spark-submit starts), ``jvm_children`` (the JVM's
reaped children: the shell commands Hadoop forks, such as ``chmod`` on
every local file it creates when libhadoop is missing) and
``py_workers`` (everything still running below the JVM: Python worker
daemons and the workers they fork). Every process counts its own user +
system time, and ``driver_py`` and ``py_workers`` also that of the
children they have reaped. The worker daemon lives for the whole
session, so it never lands in ``jvm_children``, and it ignores SIGCHLD,
so a worker that exits takes its CPU with it; reused workers live for
the whole session, so this rarely shows. A large ``py_workers`` share
on a query whose UDFs do little work points at per-task worker
overhead; a large ``jvm_children`` share points at a fork storm.
"""

from __future__ import annotations

import glob
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
CPU_PARTS = ("driver_py", "jvm", "jvm_children", "py_workers")


def cpu_split() -> dict[str, float]:
    """CPU seconds used so far by this process, its children (the JVM),
    the JVM's reaped children and everything still below the JVM
    (Python workers)."""
    ticks, reaped, children = {}, {}, defaultdict(list)
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError, ValueError):
            continue  # the process exited
        pid = int(path.split("/")[2])
        children[int(fields[1])].append(pid)
        ticks[pid] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
        reaped[pid] = sum(map(int, fields[13:15]))  # cutime cstime

    def subtree(pid: int) -> int:
        return ticks.get(pid, 0) + sum(subtree(c) for c in children[pid])

    me = os.getpid()
    jvms = children[me]
    return {
        "driver_py": ticks[me] * TICK_S,
        "jvm": sum(ticks.get(p, 0) - reaped.get(p, 0) for p in jvms) * TICK_S,
        "jvm_children": sum(reaped.get(p, 0) for p in jvms) * TICK_S,
        "py_workers": sum(subtree(c) for p in jvms for c in children[p]) * TICK_S,
    }


def last_job_id(sc) -> int:
    """Id of the newest job the application has started, -1 before the
    first. Job ids rise by one per job, so the difference of two
    readings counts every job started in between, also those no job
    group of the caller's would list: a streaming query's micro-batch
    jobs and jobs started from pool threads."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return -1 if jobs.isEmpty() else jobs.head().jobId()


def main() -> None:
    names = sys.argv[1:]
    from dend_covid19_spark import plans
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, t, SF_DIR).count()

    reg = plans.all_queries()
    build_total = 0
    for name in names:
        fn = reg[name]
        rows = []
        for i in range(RUNS + 1):  # run 0 = cold (plan/codegen), kept separate
            cpu0 = cpu_split()
            t0 = time.perf_counter()
            j0 = last_job_id(sc)
            df = fn(spark, SF_DIR)
            j1 = last_job_id(sc)
            df.write.format("noop").mode("overwrite").save()
            j2 = last_job_id(sc)
            dt = time.perf_counter() - t0
            cpu1 = cpu_split()
            rows.append((dt, j1 - j0, j2 - j1, {k: cpu1[k] - cpu0[k] for k in CPU_PARTS}))
            spark.catalog.clearCache()
        build_total += rows[0][1]
        cold, steady_rows = rows[0], rows[1:]
        line = f"{name}: cold={cold[0]:.3f}s/{cold[1]}+{cold[2]}jobs"
        if steady_rows:
            steady = sorted(r[0] for r in steady_rows)[len(steady_rows) // 2]
            line += (
                f" steady_median={steady:.3f}s"
                f" runs={[f'{d:.3f}s/{b}+{r}j' for d, b, r, _ in steady_rows]}"
            )
        print(line)
        for i, (_, _, _, cpu) in enumerate(rows):
            parts = " ".join(f"{k}={cpu[k]:.2f}s" for k in CPU_PARTS)
            print(f"  run{i} cpu: {parts} total={sum(cpu.values()):.2f}s")
    print(f"build jobs, run 0, over {len(names)} queries: {build_total}")

if __name__ == "__main__":
    main()
