"""The streaming drains' narrow state/shuffle width: the knob honors its
env override, and a drain that scopes the width down restores the
session's batch width afterwards (the set/restore must never leak into
subsequent batch queries)."""

from __future__ import annotations

import os
import subprocess
import sys

from dend_covid19_spark.plans.ingest import (
    _stream_width,
    streaming_dedup_executed,
    streaming_session_window_executed,
    streaming_stateful_sessionize_executed,
)
from dend_covid19_spark.session import env_positive_int

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
        streaming_session_window_executed,
        streaming_stateful_sessionize_executed,
    ):
        df = row(spark, SF_DIR)
        assert df.count() > 0
        assert spark.conf.get(key) == before
