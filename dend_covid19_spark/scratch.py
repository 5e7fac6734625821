"""Process-scoped /tmp scratch management with liveness-checked GC.

Side-effecting queries (ingest round-trips, streaming drains, CDC
snapshot stores, bucketed-table demos) and derived tables (signature,
fingerprint and label tables, IVF indexes, codebooks) materialize data
under ``$TMPDIR/spark_graft_ingest/<name>``. Every name is built by
``keyed_dir``, so two processes never write the same dir; the one
exception is plans/serving.py's ``servingdb_<pid>``, which every
dataset dir shares.

The key rule, in one place: a keyed dir is named
``<name>_<token>_<pid>``, where ``token`` hashes the Spark application
id, the dataset dir, the mtime of every input table the dir derives
from and the caller's code versions and parameters. A dir therefore
lives exactly as long as the application that wrote it, which is the
scope ``session.session_memo`` caches in: a second application (even
in the same process) starts from an empty checkpoint, sink or store
instead of resuming the first one's.

``scratch_dir`` stamps every directory it creates with an ``owner.pid``
marker; ``gc_scratch`` removes directories whose owning process is no
longer alive (or, for legacy unmarked dirs, whose mtime is older than a
safety horizon). The session factory calls ``gc_scratch`` once per
process so cleanup needs no operator action.

At 100 TB the same discipline applies to object-store scratch prefixes:
tag transient prefixes with the job/run id and reap tags whose run is
finished — the pid marker here is the single-machine projection of that.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile

SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_ingest")

_PID_MARKER = "owner.pid"
# dirs created before the marker existed encode the owner as a trailing
# _<pid> name segment — but ONLY for the known legacy families (cdc
# snap_*, scale bucketed_*, serving servingdb_*). Older ingest names
# (streamdedup_<hash>, streamenrich_<hash>) end in a 32-bit hash that
# must NOT be misread as a pid: a hash that matches no live pid would
# make GC reap a directory a live pre-marker process still uses.
_TRAILING_PID = re.compile(r"^(?:snap|bucketed|servingdb)_.*?(\d+)$")

# unmarked, un-suffixed dirs (the fixed-name ingest scratch of older
# versions) are only reaped when untouched for this long — they were
# overwritten in place, so age implies the writing process family is gone
_STALE_AGE_SEC = 6 * 3600


def scratch_dir(name: str, root: str = SCRATCH_ROOT) -> str:
    """Create (idempotently) ``root/name`` and stamp it with this
    process's pid so gc_scratch can prove liveness later. The marker
    records one pid per line: re-entering a shared fixed-name dir ADDS
    this process as a co-owner (keeping still-live prior owners) rather
    than overwriting them — otherwise B re-stamping a dir A still uses,
    then dying, would let a third process reap it out from under A.
    The compacting rewrite (dead pids dropped so the file stays
    bounded) is guarded by an flock on the marker: two processes
    entering the same dir concurrently serialize their
    read-modify-write instead of each overwriting the other's pid —
    the lost-owner race the co-owner list exists to prevent."""
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    me = os.getpid()
    try:
        import fcntl

        marker = os.path.join(path, _PID_MARKER)
        # open read-write WITHOUT truncating: truncation must happen
        # only after the lock is held, or a concurrent reader/writer
        # sees an empty owner list mid-update
        fd = os.open(marker, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            raw = os.read(fd, 1 << 16).decode(errors="replace")
            prior: list[int] = []
            for line in raw.split():
                try:
                    prior.append(int(line))
                except ValueError:
                    continue
            owners = [p for p in prior if p != me and _pid_alive(p)]
            payload = "\n".join(str(p) for p in [*owners, me]).encode()
            os.lseek(fd, 0, os.SEEK_SET)
            os.truncate(fd, 0)
            os.write(fd, payload)
        finally:
            os.close(fd)  # releases the flock
    except OSError:
        pass  # read-only scratch is the caller's problem, not GC's
    return path


def keyed_dir(
    spark, name: str, sf_dir: str, inputs: tuple = (), key: tuple = ()
) -> str:
    """``scratch_dir("<name>_<token>_<pid>")`` for a dir derived from
    ``sf_dir``. ``token`` is the first 12 hex digits of the md5 of the
    Spark application id, ``abspath(sf_dir)``, the mtime of each
    ``<input>.parquet`` named in ``inputs`` and ``key`` (code versions
    and parameters). A new application, a rewritten input, another
    dataset or another version each get a fresh dir; the same call
    within one application returns the same dir. The ``_<pid>`` suffix
    means a keyed name always ends in its owner's pid, so
    ``_TRAILING_PID`` can never misread the hash as one."""
    parts = [spark.sparkContext.applicationId, os.path.abspath(sf_dir)]
    parts += [os.path.getmtime(os.path.join(sf_dir, f"{t}.parquet")) for t in inputs]
    parts += key
    token = hashlib.md5(repr(parts).encode()).hexdigest()[:12]
    return scratch_dir(f"{name}_{token}_{os.getpid()}")


def materialize_once(path: str, write_fn) -> str:
    """Publish a cached derivation directory ATOMICALLY (r12 advice 1):
    ``write_fn(tmp_path)`` writes into a unique sibling temp dir, which
    is then ``os.rename``d into ``path`` — so a reader can never observe
    a partially-written dataset at ``path`` (the bare existence-check-
    then-write pattern could: two concurrent first-runs in one process,
    or a killed write leaving partial files under a later ``_SUCCESS``).
    The rename loser (``path`` already exists) discards its temp dir and
    reads the winner's copy — same-result-by-construction since every
    call site derives deterministically from the same inputs. Same-fs
    rename is atomic on POSIX; the temp dir lives beside the target so
    we never cross a mount.

    A directory at ``path`` WITHOUT a ``_SUCCESS`` marker is treated as
    absent and rebuilt: every writer publishes via rename, and a fully
    renamed Spark write dir always carries ``_SUCCESS`` — so a
    marker-less dir can only be debris from a pre-r13 in-place writer
    killed mid-write, exactly what this helper exists to never trust.

    Every cache HIT touches the published dir and its parent (r13
    advice): a dir without a live owner marker is reaped by
    gc_scratch's mtime age gate, and reads never bump mtime on their
    own — without the touch, a newly started process could reap an
    index still being probed mid-scan (FileNotFound task failures, or
    a silently partial scan in a narrow listing race). With it, the
    age gate measures time since last USE, not since publish."""
    if os.path.isdir(path):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            _touch_live(path)
            return path
        shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp.{os.getpid()}.{os.urandom(4).hex()}"
    write_fn(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # Only treat the failure as a lost publish race if a winner
        # actually exists at ``path`` — then discarding tmp and reading
        # the winner's copy is same-result-by-construction. Any other
        # rename failure (EXDEV, permissions, quota) used to rmtree the
        # freshly written data and return a path that does not exist,
        # deferring to a confusing downstream read error (r13 advice) —
        # re-raise instead so the real cause surfaces at the fault site.
        if not os.path.isdir(path):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def link_or_copy(src: str, dest: str) -> None:
    """Place ``src``'s bytes at ``dest`` unless ``dest`` already exists:
    a hard link (no bytes copied) where the filesystem allows one, a
    copy where it does not (cross-device scratch, link-less mounts)."""
    if os.path.exists(dest):
        return
    try:
        os.link(src, dest)
    except OSError:
        shutil.copyfile(src, dest)


def _touch_live(path: str) -> None:
    """Best-effort mtime bump of ``path`` and its SCRATCH_ROOT-level
    ancestor so actively-used unmarked artifacts stay inside
    gc_scratch's age gate (the gate checks the TOP-LEVEL entry's mtime,
    one directory below the root)."""
    import time as _time

    now = _time.time()
    for p in (path, os.path.dirname(path)):
        try:
            os.utime(p, (now, now))
        except OSError:
            pass


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except OSError:
        return True  # can't prove death — keep
    return True


def _owner_pids(path: str) -> list[int] | None:
    """All recorded owner pids (one per line), else the legacy
    trailing-pid name inference, else None (ownerless — age-gated)."""
    marker = os.path.join(path, _PID_MARKER)
    try:
        # Shared flock pairs with the writer's exclusive flock in
        # scratch_dir: without it a reader could observe the marker
        # mid-rewrite (truncated, owner list empty) and fall through to
        # the age gate while a live owner exists (ADVICE r10).
        with open(marker) as fh:
            try:
                import fcntl

                fcntl.flock(fh.fileno(), fcntl.LOCK_SH)
            except OSError:
                pass  # unlockable fs: keep the age-gate fallback
            pids = [int(line) for line in fh.read().split() if line.strip()]
        if pids:
            return pids
    except (OSError, ValueError):
        pass
    m = _TRAILING_PID.match(os.path.basename(path))
    return [int(m.group(1))] if m else None


def gc_scratch(
    root: str = SCRATCH_ROOT,
    stale_age_sec: float = _STALE_AGE_SEC,
    now: float | None = None,
) -> list[str]:
    """Remove scratch subdirectories whose owning process is dead; for
    ownerless dirs fall back to an mtime age check. Never touches the
    current process's dirs. Returns the paths removed (for tests/ops
    logging). Best-effort by design: a dir that fails to delete (e.g.
    a racing writer re-creating files) is skipped, not raised."""
    removed: list[str] = []
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    import time as _time

    now = _time.time() if now is None else now
    me = os.getpid()
    for entry in entries:
        path = os.path.join(root, entry)
        if not os.path.isdir(path) or os.path.islink(path):
            continue
        pids = _owner_pids(path)
        if pids and me in pids:
            continue
        if pids:
            dead = not any(_pid_alive(p) for p in pids)
        else:
            try:
                dead = (now - os.path.getmtime(path)) > stale_age_sec
            except OSError:
                dead = False
        if dead:
            try:
                shutil.rmtree(path)
                removed.append(path)
            except OSError:
                pass
    return removed
