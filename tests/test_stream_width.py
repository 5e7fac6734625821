"""The streaming drains' narrow state/shuffle width: the knob honors its
env override, ``drain`` runs every stream at it, and a drain restores the
session's batch width afterwards, also when the stream fails (the
set/restore must never leak into subsequent batch queries)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.errors import StreamingQueryException

from dend_covid19_spark.plans.ingest import (
    streaming_dedup_executed,
    streaming_drift_monitor_executed,
    streaming_enrich_executed,
    streaming_session_window_executed,
    streaming_stateful_sessionize_executed,
)
from dend_covid19_spark.session import env_positive_int, session_conf
from dend_covid19_spark.streaming.daily import drain, read_events_stream
from dend_covid19_spark.streaming.daily import stream_width as _stream_width

from conftest import SF_DIR


def test_stream_width_default_and_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert _stream_width() == "8"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "64")
    assert _stream_width() == "64"
    # a malformed override falls back to the default instead of failing
    # the drain's conf set (Spark rejects each of these widths)
    for bad in ("abc", "0", "-3"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", bad)
        assert _stream_width() == "8"
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
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    for row in (
        streaming_dedup_executed,
        streaming_enrich_executed,
        streaming_session_window_executed,
        streaming_stateful_sessionize_executed,
        streaming_drift_monitor_executed,
    ):
        df = row(spark, SF_DIR)
        assert df.count() > 0
        assert spark.conf.get(key) == before


def _events_src(tmp_path) -> str:
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    return str(src)


def test_drain_records_stream_width_in_checkpoint(spark, tmp_path):
    """A drain started under a session width of 32 plans its stream at
    the stream width: the first batch's offset-log metadata records it,
    and that recorded width is what the state store keeps on restart."""
    key = "spark.sql.shuffle.partitions"
    counts = read_events_stream(spark, _events_src(tmp_path)).groupBy("event_type").count()
    writer = counts.writeStream.format("memory").queryName("drain_width")
    with session_conf(spark, {key: "32"}):
        drain(spark, writer.outputMode("complete"), str(tmp_path / "ckpt"))
        assert spark.conf.get(key) == "32"
    # offsets/<batch> is "v1", the batch metadata json, then source offsets
    meta = json.loads((tmp_path / "ckpt" / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"][key] == _stream_width()
    assert spark.table("drain_width").count() > 0


def test_failed_drain_raises_and_restores_width(spark, tmp_path):
    key = "spark.sql.shuffle.partitions"

    def fail(batch_df, batch_id):
        raise ValueError("sink rejected the batch")

    writer = read_events_stream(spark, _events_src(tmp_path)).writeStream.foreachBatch(fail)
    with session_conf(spark, {key: "32"}):
        with pytest.raises(StreamingQueryException):
            drain(spark, writer, str(tmp_path / "ckpt"))
        assert spark.conf.get(key) == "32"
