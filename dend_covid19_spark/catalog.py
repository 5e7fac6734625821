"""Table catalog for the driver's test data.

The reference relies on schema inference at every read
(/root/reference/airflow/dags/tasks/tweets.py:48 ``spark.read.json``). Per
SURVEY.md §1.3 the new engine pins **explicit schemas** for all curated
tables: deterministic plans, no inference scan, stable oracle hashes.

At 100 TB, explicit schemas also mean the parquet reader prunes columns
from the file footer without a sampling pass, and misdeclared files fail
fast instead of silently widening types.
"""

from __future__ import annotations

import functools
import glob
import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import session_conf

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Explicit schemas for the 10 test tables (verified against the parquet
# footers — see /root/repo/FIXTURES.md §B). Spark reads parquet ns
# timestamps as microsecond TimestampType; int32 stays IntegerType.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts: logical type is a plain timestamp. The driver's testdata
    # has shipped it as BOTH parquet timestamp[us] (current) and
    # TIMESTAMP(NANOS) (earlier rounds); load_table sniffs the footer and
    # picks the matching physical read path (see events_ts_is_nanos).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(SCHEMAS)

# Physical read schema for the legacy TIMESTAMP(NANOS) layout: Spark
# rejects parquet NANOS natively ([PARQUET_TYPE_ILLEGAL]), so that layout
# is read as raw ns-longs (spark.sql.legacy.parquet.nanosAsLong) and
# converted with integer DIV (ns values ~1.7e18 overflow double's 53-bit
# mantissa — never float-divide).
EVENTS_SCHEMA_NS_LONG = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@functools.lru_cache(maxsize=None)
def _file_ts_is_nanos(part: str) -> bool:
    """Footer-only pyarrow read (no data pages) of ONE part file; cached
    per file for the process lifetime."""
    import pyarrow.parquet as pq

    return str(pq.read_schema(part).field("ts").type) == "timestamp[ns]"


def events_ts_is_nanos(path: str, default: bool | None = None) -> bool:
    """Sniff the parquet footer: is events.ts physically TIMESTAMP(NANOS)?

    The driver has regenerated the testdata with different timestamp
    units between rounds (timestamp[ns] in r1-r2, timestamp[us] at r3+),
    so the unit must come from the file footer, never from an assumption
    — assuming ns on us data shrinks every timestamp 1000x. Accepts a
    single file or a directory of part files.

    CONTRACT: a directory holds ONE physical unit — the first part file
    speaks for all (a dir accumulating mixed-unit files across driver
    rounds is undefined; write such sources to fresh dirs). For an
    empty directory, ``default`` is returned WITHOUT caching (a
    legitimate state for a streaming source defined before its first
    file lands — the current us layout is the right default there);
    with no default it raises, the batch-read behavior."""
    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            if default is not None:
                return default
            raise FileNotFoundError(f"no parquet part files under {path!r}")
        target = parts[0]
    return _file_ts_is_nanos(target)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one test table with its pinned schema.

    ``spark.read.schema(...).parquet`` skips the footer-merge schema pass
    and guarantees the declared column types (SURVEY.md §1.3 decision).
    For events, the ts physical layout is footer-sniffed (see
    events_ts_is_nanos) so either driver dataset reads correctly.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and events_ts_is_nanos(path):
        # Conf is consulted at schema-conversion (planning) time, so a
        # runtime set covers reads planned after this point.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return (
            spark.read.schema(EVENTS_SCHEMA_NS_LONG)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        )
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a low-split scan up to executor width.

    Split sizing follows input BYTES, and parquet splits only at
    row-group boundaries — so a few-MB single-row-group file arrives as
    ONE split and any CPU-bound derivation over it (minhash/simhash
    fingerprints, per-token folds) serializes onto a single core. Call
    this before such a stage: the raw-row exchange it costs is tiny
    beside the compute it parallelizes. At real corpus size (many
    splits >= cores) the branch never fires, so nothing is shuffled at
    100 TB. Only for CPU-dense stages — byte-dense stages should keep
    their scan partitioning. Callers: operators/dedup._minhash_sigs and
    _simhash_fps (each once behind their write-once parquet scratch,
    so the ``df.rdd`` plan-conversion cost of the partition probe is
    paid once, not per query).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# Node-count gate and big-branch width of ``propagate``, the one round
# loop of the graph family (see its docstring).
GRAPH_BROADCAST_MAX_NODES = 50_000_000
GRAPH_SHUFFLE_PARTS = 32

CKPT_SOURCE_MAX_BYTES = 2 * 1024**3  # share_if_bounded's source gate


def _part_files(path: str) -> list[str]:
    """The files of one table source: the file itself, or every file
    under a directory of parts. A missing path raises FileNotFoundError."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    return [
        p
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]


@functools.lru_cache(maxsize=None)
def _source_bytes(path: str) -> int:
    """On-disk bytes of one table source; cached per path for the
    process lifetime. It sizes cut widths and gates the per-occurrence
    cuts of ``share_if_bounded``, which leave results unchanged, so
    staleness is harmless. A missing path raises FileNotFoundError,
    which lru_cache does not cache, so a source that lands later is
    measured then."""
    return sum(os.path.getsize(p) for p in _part_files(path))


def _table_bytes(sf_dir: str, table: str) -> int:
    """``_source_bytes`` of ``<sf_dir>/<table>.parquet``; an unreadable
    source counts as 0 bytes."""
    try:
        return _source_bytes(f"{sf_dir}/{table}.parquet")
    except OSError:
        return 0


@functools.lru_cache(maxsize=None)
def rows_bound(sf_dir: str, table: str) -> int:
    """Row count of ``<sf_dir>/<table>.parquet`` (a file or a directory
    of parts), summed from the parquet footers: no Spark job runs.
    Cached like ``_source_bytes``. A graph builder reads it as an upper
    bound on its node count (see ``broadcast_gate``)."""
    import pyarrow.parquet as pq

    parts = _part_files(f"{sf_dir}/{table}.parquet")
    return sum(pq.read_metadata(p).num_rows for p in parts if p.endswith(".parquet"))


def broadcast_gate(sf_dir: str, table: str, nodes: DataFrame) -> bool:
    """Whether a graph loop's node table fits GRAPH_BROADCAST_MAX_NODES,
    i.e. whether its rounds may broadcast it. ``table`` is the source
    whose row count bounds the node count; while that footer bound is
    under the gate the answer is yes with no job, and only above it
    does the exact ``nodes.count()`` run."""
    return (
        rows_bound(sf_dir, table) <= GRAPH_BROADCAST_MAX_NODES
        or nodes.count() <= GRAPH_BROADCAST_MAX_NODES
    )


def _bytes_width(spark: SparkSession, nbytes: int) -> int:
    """Width of ``nbytes`` of input, for cuts and drains alike:
    ceil(nbytes / ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
    clamped to [1, ``spark.sql.shuffle.partitions``], the partition count
    AQE would coalesce them to; 1 below the advisory size (64 MB)."""
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    advisory = to_bytes(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    width = -(-nbytes // advisory)
    return max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), width))


def share_width(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Shuffle width of a cut over ``table``: its source's bytes' width."""
    return _bytes_width(spark, _table_bytes(sf_dir, table))


@contextmanager
def share_scope(spark: SparkSession, sf_dir: str, table: str) -> Iterator[None]:
    """Plan the body with AQE off at ``share_width(table)``: the
    planning scope of ``share``. A builder whose loop collects a
    driver-side value each round (PCA's power step, the CC and k-means
    convergence reads) runs the loop in it too, so each read is one job
    instead of one per query stage."""
    width = share_width(spark, sf_dir, table)
    with session_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(width),
        },
    ):
        yield


def share(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """The package's one lineage cut: ``df`` behind a lazy
    ``localCheckpoint``, so every consumer reads one materialization
    and later rounds of a loop plan against a constant-depth lineage.
    It always cuts: some sites need the cut for their results (a range
    layout sampled over a nondeterministic row order must be frozen so
    that a collected summary and the final scan see the same
    partitions), and the graph loops need it to keep their edges
    stationary.

    The cut is planned inside ``share_scope``. With AQE on (the session
    default), a lazy ``localCheckpoint`` over a shuffle runs its
    query stages at call time, one job per stage, and the result drops
    the cut's hash partitioning. With AQE off it launches no job (only a
    broadcast inside the cut starts its build), keeps
    ``hashpartitioning(k, w)``, and materializes inside the first action
    that reads it — which still runs with AQE on. The width ``w`` comes
    from ``share_width``, sized from the source's bytes and not from the
    core count: one task per core in every tiny stage cost more CPU than
    the parallelism saved.

    It refuses a plan holding an ``observe``: metrics collected below a
    lazy cut read as zero, so an ``expect_observed`` gate there would
    pass without having seen a row. The check reads the analyzed plan
    and runs no job."""
    trees = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees
    if df._jdf.queryExecution().analyzed().containsPattern(
        trees.TreePattern.withName("COLLECT_METRICS")
    ):
        raise ValueError(
            "share cannot cut an observed plan: its metrics would read as "
            "zero; observe the frame share returns instead"
        )
    with share_scope(df.sparkSession, sf_dir, table):
        return df.localCheckpoint(eager=False)


def share_if_bounded(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    """``share(df)`` while the source is bounded, else ``df`` uncut.

    For the per-occurrence streams (exploded tokens, bigrams,
    user-item pairs) whose cut only saves re-planning: their bytes are
    a small multiple of the source's, and ``localCheckpoint`` keeps them
    in the executor block store (disk-spillable but not fault-tolerant:
    losing an executor fails the job instead of recomputing). So above
    ``CKPT_SOURCE_MAX_BYTES`` of source each consumer re-plans the
    stream instead. An unreadable source counts as 0 bytes. Results are
    identical either way; only the plan differs."""
    if _table_bytes(sf_dir, table) > CKPT_SOURCE_MAX_BYTES:
        return df
    return share(df, sf_dir, table)


def propagate(
    edges: DataFrame,
    key: str,
    state: DataFrame,
    step: Callable[..., DataFrame],
    *,
    small: bool,
    rounds: int,
    sf_dir: str,
    table: str,
    converged: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """The graph family's one round loop (PageRank, k-core and label
    propagation in plans/graph.py, connected components in
    operators/components.py): up to ``rounds`` synchronous rounds of
    ``state = step(edges, state, attach)``, each one join of a
    node-cardinality table onto the edges plus one aggregate.

    ``step`` joins ``attach(nodes)`` onto ``edges`` on ``key``, where
    ``nodes`` is the state or a table derived from it (k-core's dropped
    frontier) keyed by a ``node`` column. ``small`` is the caller's gate,
    true while the node count fits ``GRAPH_BROADCAST_MAX_NODES``
    (``broadcast_gate``, or CC's own round-0 count). Past ~5e7 nodes a
    broadcast of the node table blows the executor/driver memory budget.
    The gate picks only how ``attach`` moves the node table:

    - ``small``: the edges are cut as they are and ``attach`` broadcasts
      the node table, so no exchange touches the edges.
    - otherwise: the edges are hash-partitioned on ``key`` once, at
      ``GRAPH_SHUFFLE_PARTS``, and cut (``share`` keeps the
      partitioning); ``attach`` repartitions the node table on ``node``
      to the same width, so the sort-merge join exchanges only
      node-cardinality rows each round. The width is a constant, not
      ``share_width``: Spark plans ``repartition(1, key)`` as
      SinglePartition, which the join does not accept as
      hash-partitioned, so at width 1 it would re-exchange the edges.

    Either way the edges are built once and stay stationary; the
    ``*_edges_stationary`` tests in tests/test_graph.py pin both
    plans. Each round's state is cut (``share``): the plan depth stays
    constant, and the caller's action runs every round in one job (a
    broadcast inside a cut starts its build when the cut is taken). With
    ``converged``, it is called on each round's cut state and a true
    result ends the loop; the loop runs in ``share_scope``, so each such
    driver-side read is one job."""
    if not small:
        edges = edges.repartition(GRAPH_SHUFFLE_PARTS, key)
    edges = share(edges, sf_dir, table)

    def attach(nodes: DataFrame) -> DataFrame:
        if small:
            return F.broadcast(nodes)
        return nodes.repartition(GRAPH_SHUFFLE_PARTS, "node")

    with share_scope(edges.sparkSession, sf_dir, table):
        for _ in range(rounds):
            state = share(step(edges, state, attach), sf_dir, table)
            if converged is not None and converged(state):
                break
    return state


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` plans against
    them by name (the engine's SQL front door, S10-analog)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
