"""bench.py's last stdout line stays inside the 2000-byte stdout tail its
consumer keeps."""

from __future__ import annotations

import json
import random

import pytest

import bench


def _rows(n: int) -> dict[str, float]:
    rng = random.Random(n)
    names = [bench.HEADLINE[i % len(bench.HEADLINE)] + (f"_{i}" if i >= len(bench.HEADLINE) else "") for i in range(n)]
    return {name: round(rng.uniform(0.05, 75.0), 3) for name in names}


@pytest.mark.parametrize("n", [58, 120])
def test_contract_line_fits_tail(n):
    timings = _rows(n)
    value = round(sum(timings.values()), 3)
    line = bench.contract_line("headline_queries_total_wall_sec", value, timings, 0.1)
    assert len(line.encode()) <= bench.CONTRACT_LINE_MAX_BYTES < 2000
    parsed = json.loads(line)
    assert (parsed["metric"], parsed["value"], parsed["unit"], parsed["sf"]) == (
        "headline_queries_total_wall_sec", value, "sec", 0.1
    )
    if n == 58:  # today's headline: every row, at 0.01 s
        assert parsed["queries"] == {k: round(v, 2) for k, v in timings.items()}
    else:  # too many rows even at 0.1 s: totals only
        assert "queries" not in parsed and parsed["n_queries"] == n


def test_contract_line_drops_to_tenths_before_totals():
    timings = _rows(58)
    full = bench.contract_line("m", 1.0, timings, 0.1)
    tenths = json.loads(bench.contract_line("m", 1.0, timings, 0.1, limit=len(full.encode()) - 1))
    assert tenths["queries"] == {k: round(v, 1) for k, v in timings.items()}
