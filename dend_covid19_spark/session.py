"""SparkSession factory.

The reference builds a local-mode session with Kryo + Spark NLP jars
(/root/reference/airflow/dags/tasks/tweets.py:20-39). Here we instead tune
for a modern Spark: Arrow-backed Python interchange, AQE for runtime
re-planning (post-shuffle coalescing, skew-join splitting, dynamic join
strategy), and a fixed UTC session timezone so timestamp semantics are
deterministic and match the DuckDB oracle.

Scale posture: only the Python worker daemon (``worker_daemon_conf``) is
local-mode-specific. On a real cluster the same builder is used with
``master`` left to spark-submit; the shuffle-partition default (32 for
tests) should be overridden to ~2-3x the cluster core count — AQE
coalesces down from there at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Confs that start Python workers from ``worker_daemon`` (see its
    docstring): set for ``local*`` masters, empty otherwise. PYTHONPATH
    names the package's parent so the daemon imports it even when the
    calling process found the package through ``sys.path`` alone."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "dend_covid19_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
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
      - local masters only (``worker_daemon_conf``): Python workers fork
        from ``worker_daemon``, which stops each task's
        ``importlib.invalidate_caches()`` from re-reading pyspark.zip and
        the spark-core jar (0.1-0.2 s CPU per task). Other masters keep the
        stock daemon, since their executors may not see this checkout.
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
        .config(map=worker_daemon_conf(master))
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
