"""The benchmark's workloads: what one pass runs and how each op's output
is checked.

An op is one registry query (build + ``collect``) for
``curation_iterative``, and one execution date, the serving-table
read-back or one ``availableNow`` drain for ``daily_etl``. Checks run outside the timed
region and compare against an independent computation: the query's
DuckDB oracle twin, or plain Python/DuckDB over the generated inputs.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
import probes

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# queries whose number of jobs does not depend on the data, so every seed
# does the same work (entity_resolution_parts ran 20-32 jobs by seed)
CURATION_ITERATIVE = (
    "dedup_minhash_lsh pagerank_copurchase graph_lpa_communities "
    "graph_kcore_members embedding_pca_power"
).split()

DATES = ("2020-01-21", "2020-01-22", "2020-01-23")
INDICES = ("NASDAQOMX/XQC", "NASDAQOMX/XNDXT25", "NASDAQOMX/NQUSB")
STREAM_FILES = 2  # day-range files; one more file replays earlier events
DRAINS = ("counts", "dedup", "funnel")
SERVING_DB = "perfbench_serving"


@dataclass
class OpOutcome:
    """What one op measured. ``payload`` is whatever its check needs."""

    build_s: float = 0.0
    action_s: float = 0.0
    payload: object = None
    catalyst: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def norm(v) -> str:
    """Stringify a cell for the order-insensitive row comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def same_rows(cols, rows, dcols, drows) -> bool:
    """Column-name set and order-insensitive multiset of stringified rows,
    as ``scripts/driver_sim.py`` compares Spark against DuckDB."""
    so = sorted(range(len(cols)), key=lambda i: cols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    return sorted(cols) == sorted(dcols) and sorted(
        tuple(norm(r[i]) for i in so) for r in rows
    ) == sorted(tuple(norm(r[i]) for i in do) for r in drows)


class Workload:
    """Base: inputs under ``work``/data<i>, one ``ops(pass_no)`` list per
    pass. ``run_op`` is timed; ``check_op`` is not."""

    # at least this many steady passes per run, fixed so that the number
    # of samples does not depend on host speed
    steady_passes = 2

    def __init__(self, spark, work: str, seed: int, traced: bool):
        self.spark, self.work, self.seed, self.traced = spark, work, seed, traced
        self.data = None

    def stage(self, attempt: int) -> None:
        """Write this run's inputs. Called several times; the last call's
        inputs are the ones the passes read."""
        self.data = os.path.join(self.work, f"data{attempt}")
        shutil.rmtree(self.data, ignore_errors=True)
        datagen.generate(self.seed, self.data)

    def warm(self) -> None:
        """Run one trivial job, so the first op does not pay the start of
        the session's first job. Tables are first read by the cold pass."""
        self.spark.range(1).count()

    def ops(self, pass_no: int) -> list[str]:
        raise NotImplementedError

    def run_op(self, op: str, pass_no: int, group) -> OpOutcome:
        raise NotImplementedError

    def check_op(self, op: str, outcome: OpOutcome) -> bool:
        raise NotImplementedError

    def layer_usage(self) -> dict:
        """Per-layer file-system numbers after the last pass."""
        return {}


class CurationIterative(Workload):
    """Registry queries, in a seeded order that changes every pass."""

    names = CURATION_ITERATIVE

    def __init__(self, *a):
        super().__init__(*a)
        self._oracle: dict[str, tuple] = {}
        self._con = None

    def ops(self, pass_no: int) -> list[str]:
        order = list(self.names)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return order

    def run_op(self, op, pass_no, group) -> OpOutcome:
        from dend_covid19_spark import plans

        fn = plans.get_spec(op).fn
        with group("build"):
            t0 = time.perf_counter()
            df = fn(self.spark, self.data)
            t1 = time.perf_counter()
        with group("run"):
            rows = df.collect()
            t2 = time.perf_counter()
        out = OpOutcome(build_s=t1 - t0, action_s=t2 - t1, payload=(df.columns, rows))
        if self.traced:
            out.catalyst = probes.catalyst_ms(df)
        return out

    def check_op(self, op, outcome) -> bool:
        from dend_covid19_spark import plans

        if op not in self._oracle:
            if self._con is None:
                self._con = duckdb.connect()
                for t in TABLES:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')"
                    )
            rel = self._con.execute(plans.get_spec(op).oracle)
            self._oracle[op] = ([d[0] for d in rel.description], rel.fetchall())
        cols, rows = outcome.payload
        return same_rows(cols, rows, *self._oracle[op])


class DailyEtl(Workload):
    """The reference DAG: a backfill of ``DATES`` into a fresh serving
    database (the first date resets it), the read-back join, then three
    ``availableNow`` drains of the staged events, each from a fresh
    checkpoint."""

    # one steady pass: its 7 ops take as long as two passes of the other
    # workload, and all runs of the benchmark must fit its time budget
    steady_passes = 1

    def __init__(self, *a):
        super().__init__(*a)
        rng = np.random.default_rng(self.seed)
        # quarter steps stay exact in the serving table's FLOAT column
        self.market = {
            (ix, d): float(rng.integers(400, 40_000)) / 4 for d in DATES for ix in INDICES
        }
        self._expected: dict[str, list] = {}
        self.clock = probes.Clock()
        self.db_dir = os.path.join(self.work, "serving")

    def _fetch(self, index: str, date: str) -> list:
        return [(index, self.market[(index, date)])]

    def stage(self, attempt: int) -> None:
        super().stage(attempt)
        self.src = os.path.join(self.data, "stream_src")
        os.makedirs(self.src)
        events = pq.read_table(os.path.join(self.data, "events.parquet"))
        day = (events["ts"].to_numpy().astype("datetime64[D]") - np.datetime64("2024-01-01")).astype(int)
        width = math.ceil(30 / STREAM_FILES)
        parts = [events.filter(day // width == i) for i in range(STREAM_FILES)]
        parts.append(events.take(np.arange(0, events.num_rows, 20)))  # replays
        now = time.time()
        for i, part in enumerate(parts):
            path = os.path.join(self.src, f"p{i}.parquet")
            pq.write_table(part, path, coerce_timestamps="us")
            # the file source admits oldest first: pin the batch order
            os.utime(path, (now - 1000 + i * 100,) * 2)
        self._parts = parts

    def warm(self) -> None:
        super().warm()
        shutil.rmtree(self.db_dir, ignore_errors=True)
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {SERVING_DB} LOCATION '{self.db_dir}'")
        self.spark.catalog.setCurrentDatabase(SERVING_DB)
        if self.traced:
            self._instrument()

    def _instrument(self) -> None:
        """Time the pipeline's public functions and its two table writes."""
        from pyspark.sql import DataFrameWriter

        from dend_covid19_spark import pipeline

        c = self.clock
        for name, key in (
            ("extract_sentiment", "pipeline.extract_s"),
            ("scrap_market_data", "pipeline.market_s"),
            ("expect_nonempty", "pipeline.gate_s"),
            ("reset_serving_tables", "sources.ddl_reset_s"),
        ):
            setattr(pipeline, name, c.timed(key, getattr(pipeline, name)))
        insert = DataFrameWriter.insertInto

        def timed_insert(writer, table, *a, **kw):
            key = "pipeline.extract_s" if table.endswith("tweets_sentiment") else "pipeline.market_s"
            return c.timed(key, insert)(writer, table, *a, **kw)

        DataFrameWriter.insertInto = timed_insert

    def ops(self, pass_no: int) -> list[str]:
        return [f"date:{d}" for d in DATES] + ["readback"] + [f"drain:{k}" for k in DRAINS]

    def run_op(self, op, pass_no, group) -> OpOutcome:
        from dend_covid19_spark import pipeline

        before = dict(self.clock.s)
        out = OpOutcome()
        if op.startswith("date:"):
            date = op[5:]
            with group("run"):
                t0 = time.perf_counter()
                pipeline.backfill(
                    self.spark, self.data, [date], self._fetch,
                    reset=date == DATES[0], db_prefix=f"{SERVING_DB}.", indices=INDICES,
                )
                out.action_s = time.perf_counter() - t0
        elif op == "readback":
            with group("build"):
                t0 = time.perf_counter()
                df = pipeline.flagship_join(self.spark)
                t1 = time.perf_counter()
            with group("run"):
                rows = df.collect()
                t2 = time.perf_counter()
            out = OpOutcome(build_s=t1 - t0, action_s=t2 - t1, payload=rows)
            if self.traced:
                out.catalyst = probes.catalyst_ms(df)
        else:
            kind = op[6:]
            sink = f"pb_{kind}_{pass_no}"
            with group("run"):
                t0 = time.perf_counter()
                self._drain(kind, sink, os.path.join(self.work, "ckpt", sink))
                out.action_s = time.perf_counter() - t0
            out.payload = sink
        if self.traced:
            out.extra = {k: v - before.get(k, 0.0) for k, v in self.clock.s.items()}
        return out

    def _drain(self, kind: str, sink: str, ckpt: str) -> None:
        from dend_covid19_spark.plans.timeseries import FUNNEL_STAGES, FUNNEL_WINDOW_MIN
        from dend_covid19_spark.streaming import daily, stateful

        # state width as the engine's own streaming rows scope it
        key = "spark.sql.shuffle.partitions"
        width = self.spark.conf.get(key)
        self.spark.conf.set(key, os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))
        try:
            if kind == "counts":
                daily.run_available_now(self.spark, self.src, ckpt, sink_table=sink)
            elif kind == "dedup":
                daily.run_dedup_available_now(self.spark, self.src, ckpt, sink_table=sink)
            else:
                stateful.run_funnel_available_now(
                    self.spark, self.src, ckpt, FUNNEL_STAGES,
                    FUNNEL_WINDOW_MIN * 60 * 1_000_000, sink_table=sink,
                    max_files_per_trigger=1,
                )
        finally:
            self.spark.conf.set(key, width)

    def check_op(self, op, outcome) -> bool:
        if op.startswith("date:"):
            return op != f"date:{DATES[-1]}" or self._check_serving()
        if op == "readback":
            return sorted(map(tuple, outcome.payload)) == self._expect("readback")
        sink = outcome.payload
        rows = self.spark.table(sink).collect()
        self.spark.catalog.dropTempView(sink)
        return sorted(tuple(norm(v) for v in r) for r in rows) == self._expect(op[6:])

    def _check_serving(self) -> bool:
        """After the last date: one identical sentiment row per date, and
        one market row per (date, index) carrying the stub's value."""
        t = self.spark.table(f"{SERVING_DB}.tweets_sentiment").collect()
        m = self.spark.table(f"{SERVING_DB}.markets_value").collect()
        sentiment = sorted(
            (r.tweets_sentiment_id, r.positive_count, r.negative_count, r.na_count) for r in t
        )
        market = sorted((r.markets_value_id, r["index"], r.value) for r in m)
        return sentiment == self._expect("sentiment") and market == self._expect("market")

    def _expect(self, what: str) -> list:
        if what not in self._expected:
            self._expected[what] = self._compute_expected(what)
        return self._expected[what]

    def _sentiment_counts(self) -> tuple:
        from dend_covid19_spark.functions.annotator import score_text

        docs = pq.read_table(os.path.join(self.data, "documents.parquet")).to_pylist()
        labels = [
            score_text(d["text"])
            for d in docs
            if d["lang"] == "en" and not d["text"].startswith("the ")
        ]
        return tuple(labels.count(k) for k in ("positive", "negative", "na"))

    def _compute_expected(self, what: str) -> list:
        import datetime

        if what == "sentiment":
            counts = self._sentiment_counts()
            return sorted((f"{d}(en)", *counts) for d in DATES)
        if what == "market":
            return sorted(
                (f"{d}({ix})", ix, v) for (ix, d), v in self.market.items()
            )
        if what == "readback":
            pos, neg, _ = self._sentiment_counts()
            return sorted(
                (datetime.datetime.fromisoformat(d), ix, v, pos, neg)
                for (ix, d), v in self.market.items()
            )
        if what == "funnel":
            return self._funnel_reference()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src}/*.parquet')")
        sql = {
            "counts": """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt,
                           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
                         FROM src GROUP BY 1, 2""",
            "dedup": "SELECT DISTINCT event_id, user_id, event_type FROM src",
        }[what]
        return sorted(tuple(norm(v) for v in r) for r in con.execute(sql).fetchall())

    def _funnel_reference(self) -> list:
        """The funnel state machine in plain Python, one staged file per
        micro-batch, events of a batch in (ts, event_id) order."""
        from dend_covid19_spark.plans.timeseries import FUNNEL_STAGES, FUNNEL_WINDOW_MIN

        window = FUNNEL_WINDOW_MIN * 60 * 1_000_000
        state: dict[int, tuple] = {}
        hits = []
        for part in self._parts:
            cols = part.select(["user_id", "ts", "event_id", "event_type"]).to_pydict()
            ts = part["ts"].cast("int64").to_pylist()
            rows = sorted(zip(cols["user_id"], ts, cols["event_id"], cols["event_type"]))
            for user, t, _, et in rows:
                st, sts = state.get(user, (0, 0))
                if st == 0 and et == FUNNEL_STAGES[0]:
                    st, sts = 1, t
                elif st in (1, 2) and et == FUNNEL_STAGES[st] and t <= sts + window:
                    st, sts = st + 1, t
                else:
                    continue
                state[user] = (st, sts)
                hits.append((user, st, t))
        return sorted(tuple(norm(v) for v in h) for h in hits)

    def layer_usage(self) -> dict:
        serving = probes.tree_usage(self.db_dir, data_only=True)
        return {
            "sources.files_written": serving["files"],
            "sources.bytes_written": serving["bytes"],
        }


WORKLOADS = {
    "curation_iterative": CurationIterative,
    "daily_etl": DailyEtl,
}
