"""The three bookkeeping helpers the side-effecting rows share:
``session_conf`` (scoped, locked session-conf overrides),
``session_memo`` (once-per-application memo) and
``scratch.link_or_copy`` (hard link with a copy fallback)."""

from __future__ import annotations

import os
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from dend_covid19_spark.scratch import link_or_copy
from dend_covid19_spark.session import session_conf, session_memo

WIDTH = "spark.sql.shuffle.partitions"
# a key no code sets, so it is absent whatever ran before
ABSENT = "spark.graft.test.absent"


def _run_with_timeout(fn, timeout: float = 60.0) -> None:
    """Run fn on a daemon thread; fail (instead of hanging the suite)
    if it does not finish, and re-raise anything it raised."""
    err: list[BaseException] = []

    def target():
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            err.append(e)

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "session_conf body did not finish (lock not re-entrant?)"
    if err:
        raise err[0]


def test_session_conf_restores_after_exception(spark):
    before = spark.conf.get(WIDTH)
    with pytest.raises(RuntimeError, match="boom"):
        with session_conf(spark, {WIDTH: "3"}):
            assert spark.conf.get(WIDTH) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(WIDTH) == before


def test_session_conf_unsets_key_absent_before(spark):
    assert spark.conf.get(ABSENT, None) is None
    with session_conf(spark, {ABSENT: "on"}):
        assert spark.conf.get(ABSENT) == "on"
    assert spark.conf.get(ABSENT, None) is None


def test_session_conf_nests_in_one_thread(spark):
    before = spark.conf.get(WIDTH)

    def nested():
        with session_conf(spark, {WIDTH: "3"}):
            with session_conf(spark, {WIDTH: "5", ABSENT: "on"}):
                assert spark.conf.get(WIDTH) == "5"
                assert spark.conf.get(ABSENT) == "on"
            assert spark.conf.get(WIDTH) == "3"
            assert spark.conf.get(ABSENT, None) is None

    _run_with_timeout(nested)
    assert spark.conf.get(WIDTH) == before


def test_session_conf_threads_each_read_their_own_value(spark):
    """More threads than cores, each scoping its own width: inside its
    body every thread reads only its own value, and the session's
    width is back once all have finished."""
    before = spark.conf.get(WIDTH)
    values = [str(v) for v in range(3, 9)]
    start = threading.Barrier(len(values))
    seen: dict[str, list[str]] = {v: [] for v in values}

    def scoped(value: str) -> None:
        start.wait()
        with session_conf(spark, {WIDTH: value}):
            seen[value].append(spark.conf.get(WIDTH))
            time.sleep(0.1)  # the other threads try to set theirs now
            seen[value].append(spark.conf.get(WIDTH))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=scoped, args=(v,)) for v in values]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == {v: [v, v] for v in values}
    assert spark.conf.get(WIDTH) == before


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_memo():
    calls: list[tuple] = []

    @session_memo
    def build(spark, sf_dir):
        """Build once per (app, sf_dir)."""
        calls.append((spark.sparkContext.applicationId, sf_dir))
        return object()

    return build, calls


def test_session_memo_hit_returns_same_object():
    build, calls = _counting_memo()
    app = _fake_spark("app-1")
    first = build(app, "sf")
    assert build(app, "sf") is first
    assert build(app, "other") is not first
    assert calls == [("app-1", "sf"), ("app-1", "other")]
    assert build.__doc__ == "Build once per (app, sf_dir)."
    assert build.__name__ == "build"


def test_session_memo_new_app_evicts_old_app_entries():
    build, calls = _counting_memo()
    old, new = _fake_spark("app-1"), _fake_spark("app-2")
    first = build(old, "sf")
    second = build(new, "sf")
    assert second is not first
    assert build(new, "sf") is second
    # app-1's entry went when app-2 first called: recomputed, not served
    assert build(old, "sf") is not first
    assert calls == [("app-1", "sf"), ("app-2", "sf"), ("app-1", "sf")]


def test_session_memo_cache_clear_empties_the_cache():
    build, calls = _counting_memo()
    app = _fake_spark("app-1")
    first = build(app, "sf")
    build.cache_clear()
    assert build(app, "sf") is not first
    assert calls == [("app-1", "sf"), ("app-1", "sf")]


def test_link_or_copy_links_when_it_can(tmp_path):
    src, dest = tmp_path / "src.bin", tmp_path / "dest.bin"
    src.write_bytes(b"payload")
    link_or_copy(str(src), str(dest))
    assert os.stat(dest).st_ino == os.stat(src).st_ino


def test_link_or_copy_copies_when_link_fails(tmp_path, monkeypatch):
    def no_link(src, dst):
        raise OSError("cross-device link")

    monkeypatch.setattr(os, "link", no_link)
    src, dest = tmp_path / "src.bin", tmp_path / "dest.bin"
    src.write_bytes(bytes(range(256)) * 64)
    link_or_copy(str(src), str(dest))
    assert dest.read_bytes() == src.read_bytes()
    assert os.stat(dest).st_ino != os.stat(src).st_ino


def test_link_or_copy_leaves_existing_dest_untouched(tmp_path):
    src, dest = tmp_path / "src.bin", tmp_path / "dest.bin"
    src.write_bytes(b"new")
    dest.write_bytes(b"old")
    link_or_copy(str(src), str(dest))
    assert dest.read_bytes() == b"old"
