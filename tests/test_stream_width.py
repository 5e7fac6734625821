"""The streaming drains' state/shuffle width: it follows the bytes under
the drain's source dir by the same rule as a lineage cut, ``drain`` runs
every stream at it, a resumed checkpoint keeps the width it was created
with, width never changes a sink's rows, and a drain restores the
session's batch width afterwards, also when the stream fails (the
set/restore must never leak into subsequent batch queries)."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from dend_covid19_spark.catalog import SCHEMAS, load_table
from dend_covid19_spark.plans.ingest import (
    _day_chunks,
    _stage_chunks,
    streaming_dedup_executed,
    streaming_drift_monitor_executed,
    streaming_enrich_executed,
    streaming_session_window_executed,
    streaming_stateful_sessionize_executed,
)
from dend_covid19_spark.plans.timeseries import FUNNEL_STAGES, FUNNEL_WINDOW_MIN
from dend_covid19_spark.session import env_positive_int, session_conf
from dend_covid19_spark.streaming.daily import (
    daily_counts_stream,
    drain,
    read_events_stream,
    run_available_now,
    run_dedup_available_now,
)
from dend_covid19_spark.streaming.daily import stream_width as _stream_width
from dend_covid19_spark.streaming.stateful import run_funnel_available_now

from conftest import SF_DIR

KEY = "spark.sql.shuffle.partitions"
# a 4 KiB advisory size makes a KB-scale source several partitions wide
WIDE = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k"}


def _events_src(tmp_path) -> str:
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    return str(src)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def _recorded_width(ckpt, batch: int) -> int:
    # offsets/<batch> is "v1", the batch metadata json, then source offsets
    meta = json.loads((ckpt / "offsets" / str(batch)).read_text().splitlines()[1])
    return int(meta["conf"][KEY])


def test_stream_width_default_and_env_override(spark, tmp_path, monkeypatch):
    # KB-scale sources, and a dir with no file yet, drain at width 1
    assert _stream_width(spark, _events_src(tmp_path)) == "1"
    (tmp_path / "empty").mkdir()
    assert _stream_width(spark, str(tmp_path / "empty")) == "1"
    assert _stream_width(spark, str(tmp_path / "missing")) == "1"
    # a malformed session-width override falls back to the default
    # instead of failing (Spark rejects each of these widths)
    for bad in ("abc", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        assert env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32) == 32
    # ... and the session default is read at import: importing the
    # package under a malformed value must still work
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import dend_covid19_spark.session as s;"
            " print(s.DEFAULT_SHUFFLE_PARTITIONS)",
        ],
        env={**os.environ, "SPARK_GRAFT_SHUFFLE_PARTITIONS": "abc"},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    )
    assert proc.stdout.strip() == "32"


def test_narrowed_drains_restore_session_width(spark):
    before = spark.conf.get(KEY)
    for row in (
        streaming_dedup_executed,
        streaming_enrich_executed,
        streaming_session_window_executed,
        streaming_stateful_sessionize_executed,
        streaming_drift_monitor_executed,
    ):
        df = row(spark, SF_DIR)
        assert df.count() > 0
        assert spark.conf.get(KEY) == before


def test_drain_records_stream_width_in_checkpoint(spark, tmp_path):
    """A drain started under a session width of 32 plans its stream at
    the width of its source's bytes: the first batch's offset-log
    metadata records it, and that recorded width is what the state
    store keeps on restart."""
    src = _events_src(tmp_path)
    counts = read_events_stream(spark, src).groupBy("event_type").count()
    writer = counts.writeStream.format("memory").queryName("drain_width")
    with session_conf(spark, {KEY: "32", **WIDE}):
        drain(spark, writer.outputMode("complete"), str(tmp_path / "ckpt"), src)
        assert spark.conf.get(KEY) == "32"
    want = min(32, math.ceil(_dir_bytes(src) / 4096))
    assert want > 1
    assert _recorded_width(tmp_path / "ckpt", 0) == want
    assert spark.table("drain_width").count() > 0


def _day_split(spark, n: int) -> list:
    """The dataset's events cut at day boundaries into ``n``
    chronological chunks."""
    ev = load_table(spark, "events", SF_DIR)
    days = sorted(r.d for r in ev.select(F.to_date("ts").alias("d")).distinct().collect() if r.d)
    return _day_chunks(ev, tuple(days[len(days) * i // n] for i in range(1, n)))


def test_restart_keeps_width_and_rows(spark, tmp_path):
    """A checkpoint created wide resumes at that width after its source
    grew and the advisory size went back to its default, which alone
    would give width 1; the complete-mode sink then holds the batch
    counts over both files."""
    early, late = _day_split(spark, 2)
    src, ckpt = str(tmp_path / "src"), tmp_path / "ckpt"
    os.makedirs(src)
    _stage_chunks([early], str(tmp_path), src)
    with session_conf(spark, WIDE):
        first = int(_stream_width(spark, src))
        run_available_now(spark, src, str(ckpt), sink_table="restart_width")
    assert first > 1
    _stage_chunks([late], str(tmp_path), src, first=1)
    assert _stream_width(spark, src) == "1"
    run_available_now(spark, src, str(ckpt), sink_table="restart_width")
    assert _recorded_width(ckpt, 0) == first
    assert _recorded_width(ckpt, 1) == first
    batch = daily_counts_stream(spark.read.schema(SCHEMAS["events"]).parquet(src))
    got = sorted(map(tuple, spark.table("restart_width").collect()))
    assert got == sorted(map(tuple, batch.collect()))
    assert got


def test_width_leaves_sinks_unchanged(spark, tmp_path):
    """The daily DAG's three drains (counts in complete mode, dedup, and
    the funnel at one file per batch) fill identical sinks at width 1
    and at a forced wider width."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _stage_chunks(_day_split(spark, 3), str(tmp_path), src)
    drains = {
        "counts": run_available_now,
        "dedup": run_dedup_available_now,
        "funnel": lambda spark, src, ckpt, sink_table: run_funnel_available_now(
            spark, src, ckpt, FUNNEL_STAGES, FUNNEL_WINDOW_MIN * 60 * 1_000_000,
            sink_table=sink_table, max_files_per_trigger=1,
        ),
    }
    for kind, run in drains.items():
        rows, widths = [], []
        for tag, conf in (("narrow", {}), ("wide", WIDE)):
            ckpt, sink = tmp_path / f"ckpt_{kind}_{tag}", f"width_{kind}_{tag}"
            with session_conf(spark, conf):
                run(spark, src, str(ckpt), sink_table=sink)
            rows.append(sorted(map(tuple, spark.table(sink).collect())))
            widths.append(_recorded_width(ckpt, 0))
        assert widths[0] == 1 < widths[1], (kind, widths)
        assert rows[0] == rows[1], kind
        assert rows[0], kind


def test_failed_drain_raises_and_restores_width(spark, tmp_path):
    def fail(batch_df, batch_id):
        raise ValueError("sink rejected the batch")

    src = _events_src(tmp_path)
    writer = read_events_stream(spark, src).writeStream.foreachBatch(fail)
    with session_conf(spark, {KEY: "32"}):
        with pytest.raises(StreamingQueryException):
            drain(spark, writer, str(tmp_path / "ckpt"), src)
        assert spark.conf.get(KEY) == "32"
