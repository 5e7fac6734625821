"""scripts/profile_query.py's job counter."""

from __future__ import annotations

import importlib.util
import os
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_query():
    spec = importlib.util.spec_from_file_location(
        "profile_query", os.path.join(ROOT, "scripts", "profile_query.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_job_count_includes_pool_thread_jobs(spark):
    """A job started from a pool thread carries none of the caller's job
    group (as ``_stage_chunks``' pooled writes and a streaming query's
    micro-batches do not), yet it is one of the caller's jobs."""
    last_job_id = _profile_query().last_job_id
    sc = spark.sparkContext
    before = last_job_id(sc)
    with ThreadPoolExecutor(1) as pool:
        assert pool.submit(lambda: sc.parallelize([1, 2, 3]).count()).result() == 3
    assert last_job_id(sc) - before == 1
