"""Two SparkSessions, one after the other, in one process: every
side-effecting row must return the same rows in the second application
as in the first. Scratch dirs (stream checkpoints, memory sinks, stores)
are keyed on the application, so the second drain starts from an empty
checkpoint instead of resuming the first application's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

ROWS = (
    "streaming_dedup_executed",
    "streaming_complete_mode_executed",
    "streaming_drift_monitor_executed",
    "streaming_upsert_sink_executed",
)

_CHILD = """
import json, sys
from dend_covid19_spark import plans
from dend_covid19_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
reg = plans.all_queries()
runs = []
for _ in range(2):
    spark = get_spark(app_name="two-sessions")
    out = {}
    for name in names:
        try:
            out[name] = sorted(repr(tuple(r)) for r in reg[name](spark, sf_dir).collect())
        except Exception as e:
            out[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    spark.stop()
    runs.append(out)
print(json.dumps(runs))
"""


def test_second_application_returns_the_same_rows():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, SF_DIR, *ROWS],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    for name in ROWS:
        assert isinstance(first[name], list) and first[name], (name, first[name])
    assert second == first
