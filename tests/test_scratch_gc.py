"""Liveness-checked /tmp scratch GC (SURVEY.md §8 queue item c):
pid-marked dirs are reaped exactly when their owner is dead; live and
current-process dirs survive; unmarked dirs fall back to an age check.
No Spark needed — pure filesystem semantics."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import time
from types import SimpleNamespace

from dend_covid19_spark.scratch import gc_scratch, scratch_dir


def _dead_pid() -> int:
    """A pid that existed a moment ago and is now certainly dead."""
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_scratch_dir_stamps_owner(tmp_path):
    root = str(tmp_path)
    d = scratch_dir("mine", root=root)
    assert os.path.isdir(d)
    with open(os.path.join(d, "owner.pid")) as fh:
        assert int(fh.read()) == os.getpid()


def test_gc_spares_live_owner_and_self(tmp_path):
    root = str(tmp_path)
    mine = scratch_dir("mine", root=root)
    # dir stamped by a demonstrably live foreign process (pid 1)
    other = os.path.join(root, "other")
    os.makedirs(other)
    with open(os.path.join(other, "owner.pid"), "w") as fh:
        fh.write("1")
    removed = gc_scratch(root=root)
    assert removed == []
    assert os.path.isdir(mine) and os.path.isdir(other)


def test_gc_reaps_dead_owner_marker(tmp_path):
    root = str(tmp_path)
    dead = os.path.join(root, "deadguy")
    os.makedirs(dead)
    with open(os.path.join(dead, "owner.pid"), "w") as fh:
        fh.write(str(_dead_pid()))
    removed = gc_scratch(root=root)
    assert removed == [dead]
    assert not os.path.exists(dead)


def test_gc_reaps_dead_owner_name_suffix(tmp_path):
    """Legacy dirs (pre-marker) encode the owner as a trailing _<pid>
    name segment — cdc snap_*, scale bucketed_*."""
    root = str(tmp_path)
    dead = os.path.join(root, f"snap_abc123_{_dead_pid()}")
    os.makedirs(dead)
    live = os.path.join(root, "bucketed_def456_1")  # pid 1 is alive
    os.makedirs(live)
    removed = gc_scratch(root=root)
    assert removed == [dead]
    assert os.path.isdir(live)


def test_gc_unmarked_dirs_age_gated(tmp_path):
    root = str(tmp_path)
    anon = os.path.join(root, "jsonl")
    os.makedirs(anon)
    # young: kept regardless of ownership ambiguity
    assert gc_scratch(root=root, stale_age_sec=3600) == []
    assert os.path.isdir(anon)
    # old: reaped (simulate age by shifting "now" forward)
    assert gc_scratch(root=root, stale_age_sec=3600, now=time.time() + 7200) == [anon]
    assert not os.path.exists(anon)


def test_gc_missing_root_is_noop(tmp_path):
    assert gc_scratch(root=str(tmp_path / "nope")) == []


def test_hash_token_suffix_not_treated_as_pid(tmp_path):
    """streamdedup_<token>/streamenrich_<token> end in a 32-bit hash, not
    a pid; the legacy trailing-digits inference must not apply (it would
    reap a live pre-marker process's dir the moment the hash matched no
    live pid). Ownerless -> age-gated: young dirs survive."""
    root = str(tmp_path)
    young = os.path.join(root, f"streamdedup_{_dead_pid()}")
    os.makedirs(young)
    assert gc_scratch(root=root, stale_age_sec=3600) == []
    assert os.path.isdir(young)
    # and the age gate still applies once genuinely stale
    assert gc_scratch(root=root, stale_age_sec=3600, now=time.time() + 7200) == [young]


def test_shared_dir_keeps_live_coowners(tmp_path):
    """Re-stamping a shared fixed-name dir records a co-owner list, not a
    hostile takeover: a dir co-owned by a live foreign pid and a dead one
    survives; it is reaped only when every recorded owner is dead."""
    root = str(tmp_path)
    shared = os.path.join(root, "shared")
    os.makedirs(shared)
    with open(os.path.join(shared, "owner.pid"), "w") as fh:
        fh.write("1")  # live foreign owner (init)
    scratch_dir("shared", root=root)  # we adopt as co-owner
    with open(os.path.join(shared, "owner.pid")) as fh:
        pids = [int(x) for x in fh.read().split()]
    assert pids == [1, os.getpid()]
    # now simulate: our process "dies" by rewriting marker to (1, dead)
    with open(os.path.join(shared, "owner.pid"), "w") as fh:
        fh.write(f"1\n{_dead_pid()}")
    assert gc_scratch(root=root) == []  # pid 1 still alive -> kept
    with open(os.path.join(shared, "owner.pid"), "w") as fh:
        fh.write(f"{_dead_pid()}\n{_dead_pid()}")
    assert gc_scratch(root=root) == [shared]  # all owners dead -> reaped


def test_materialize_once_atomic_and_rebuilds_partials(tmp_path):
    """r13 atomic publish: (1) a completed publish (dir with _SUCCESS)
    is returned untouched and the writer never re-runs; (2) a dir
    WITHOUT _SUCCESS — pre-materialize in-place debris — is discarded
    and rebuilt; (3) the write lands via rename, so the final dir only
    ever appears complete; (4) a publish race leaves exactly the
    winner's copy and the loser's temp dir is cleaned up."""
    import os

    from dend_covid19_spark.scratch import materialize_once

    target = str(tmp_path / "ds")
    calls = []

    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("data")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    materialize_once(target, write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert len(calls) == 1
    materialize_once(target, write)  # complete -> untouched, no rewrite
    assert len(calls) == 1

    # partial debris (no _SUCCESS) is rebuilt
    os.remove(os.path.join(target, "_SUCCESS"))
    materialize_once(target, write)
    assert len(calls) == 2
    assert os.path.exists(os.path.join(target, "_SUCCESS"))

    # race: a writer that finds the target already published must drop
    # its temp dir and leave the winner's data intact
    def racing_write(tmp):
        calls.append(tmp)
        write(tmp)
        os.rename(tmp, target + "_winner")  # simulate the other process
        os.rename(target + "_winner", target)
        # re-create our own tmp so materialize_once's rename loses
        write(tmp)

    import shutil

    shutil.rmtree(target)
    materialize_once(target, racing_write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == []


def test_materialize_once_touches_on_hit(tmp_path):
    """r13 advice: reads don't bump mtime on their own, so every cache
    hit touches the published dir and its top-level parent. Since r18
    the ivfcell_*, codebook_* and deconsh_* artifacts are pid-keyed and
    reaped once their owning process exits; a dir without a live owner
    marker (this one, or a pre-r18 leftover) falls to gc_scratch's
    6-hour age gate, which the touch keeps measuring time since last
    USE."""
    import os

    from dend_covid19_spark.scratch import materialize_once

    parent = tmp_path / "ivfcell_abc"
    parent.mkdir()
    target = str(parent / "index")

    def write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    materialize_once(target, write)
    old = time.time() - 10 * 3600  # way past the 6-hour gate
    os.utime(target, (old, old))
    os.utime(parent, (old, old))
    materialize_once(target, write)  # cache hit
    assert os.path.getmtime(target) > old + 3600
    assert os.path.getmtime(parent) > old + 3600
    # and the gate now spares the freshly-used artifact
    assert gc_scratch(root=str(tmp_path)) == []


def test_materialize_once_reraises_non_race_rename_failure(tmp_path, monkeypatch):
    """r13 advice: a rename failure with NO winner at the target is not
    a publish race — the freshly written temp data must not be silently
    discarded; the error surfaces at the fault site. With a winner
    present, the loser still cleans up and reads the winner's copy."""
    import os

    import pytest

    from dend_covid19_spark.scratch import materialize_once

    target = str(tmp_path / "ds")

    def write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    real_rename = os.rename

    def failing_rename(src, dst):
        raise OSError("EXDEV: cross-device link")

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="EXDEV"):
        materialize_once(target, write)
    assert not os.path.isdir(target)
    # the failed attempt's temp dir is DELIBERATELY preserved (the data
    # survives for diagnosis — discarding it was the bug); clear it so
    # the final no-leftovers check sees only race-loser cleanup
    import shutil

    for p in os.listdir(tmp_path):
        if ".tmp." in p:
            shutil.rmtree(str(tmp_path / p))

    # a genuine race (winner exists): loser discards tmp, returns winner
    monkeypatch.setattr(os, "rename", real_rename)
    materialize_once(target, write)
    monkeypatch.setattr(os, "rename", failing_rename)
    materialize_once(target, write)  # hit short-circuits before rename
    os.remove(os.path.join(target, "_SUCCESS"))

    def racing_write(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        # another process wins the publish while our rename is broken
        w = str(tmp_path / "w")
        os.makedirs(w, exist_ok=True)
        open(os.path.join(w, "_SUCCESS"), "w").close()
        real_rename(w, target)

    materialize_once(target, racing_write)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == []


def test_codebook_cache_key_includes_code_version(tmp_path, monkeypatch):
    """r13 advice: the pid-keyed codebook scratch key carries
    CODEBOOK_VERSION (like IVF_INDEX_VERSION) so a change to the Lloyd
    arithmetic can never silently read a stale pre-change artifact."""
    import dend_covid19_spark.operators.kmeans as km

    (tmp_path / "embeddings.parquet").write_bytes(b"")
    spark, sf = _fake_spark("app-1"), str(tmp_path)
    p1 = km._codebook_scratch_path(spark, sf, [1, 2, 3])
    monkeypatch.setattr(km, "CODEBOOK_VERSION", km.CODEBOOK_VERSION + 1)
    p2 = km._codebook_scratch_path(spark, sf, [1, 2, 3])
    assert p1 != p2
    for p in (p1, p2):
        shutil.rmtree(os.path.dirname(p), ignore_errors=True)


def _fake_spark(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_keyed_dir_token_tracks_every_key_part(tmp_path):
    """keyed_dir names ``<name>_<12 hex>_<pid>`` and stamps owner.pid.
    The token is stable for the same (application, sf_dir, input mtimes,
    key) and changes when any one of them changes; a table not named in
    ``inputs`` does not move it."""
    from dend_covid19_spark.scratch import keyed_dir

    sf, other = tmp_path / "sf", tmp_path / "sf2"
    for d in (sf, other):
        d.mkdir()
        for t in ("events", "customer"):
            (d / f"{t}.parquet").write_bytes(b"")
            os.utime(d / f"{t}.parquet", (1_000_000, 1_000_000))
    made = []

    def kd(app="app-1", sf_dir=str(sf), key=(1, "v")):
        made.append(keyed_dir(_fake_spark(app), "unit", sf_dir, ("events",), key))
        return made[-1]

    try:
        base = kd()
        assert re.fullmatch(rf"unit_[0-9a-f]{{12}}_{os.getpid()}", os.path.basename(base))
        with open(os.path.join(base, "owner.pid")) as fh:
            assert os.getpid() in [int(x) for x in fh.read().split()]
        assert kd() == base
        os.utime(sf / "customer.parquet", (2_000_000, 2_000_000))
        assert kd() == base
        assert kd(app="app-2") != base
        assert kd(sf_dir=str(other)) != base
        assert kd(key=(2, "v")) != base
        os.utime(sf / "events.parquet", (2_000_000, 2_000_000))
        assert kd() != base
    finally:
        for p in set(made):
            shutil.rmtree(p, ignore_errors=True)
