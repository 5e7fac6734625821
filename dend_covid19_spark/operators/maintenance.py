"""Table-maintenance operators: small-file compaction and range-
clustered (sort-ordered) rewrites.

At 100 TB these are the jobs that keep read performance from decaying:
streaming/incremental writers emit thousands of small files (each a
task + an open cost per scan), and unclustered data defeats parquet
min/max row-group pruning. The reference never needs these (its output
is ~1 row/day — SURVEY.md §6), but any engine serving its workload at
scale does.

No new execution machinery: compaction is a size-aware partitioned
write, clustering is repartitionByRange + sortWithinPartitions — both pure
DataFrame plans, so they distribute like any other query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte size of ``path`` through the Hadoop FileSystem API,
    so any URI Spark itself can read (file://, hdfs://, s3a://) sizes
    correctly — an os.walk would silently return 0 for remote stores and
    collapse compaction to a single output file. Hidden/underscore
    entries (_SUCCESS, .crc) are excluded like FileSourceScanExec does.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            total += status.getLen()
    return total


def partition_file_stats(root: str) -> dict[str, dict]:
    """Per-leaf-partition file inventory of a ``key=value``-partitioned
    parquet directory: ``{rel_partition: {"n_files": int, "bytes": int,
    "files": {rel_file: [size, mtime_ns]}}}``. Hidden/underscore entries
    (_SUCCESS, .crc, manifests) are excluded, matching what
    FileSourceScanExec scans.

    Driver-side metadata only — at 100 TB this is one recursive listing
    (or a catalog/manifest read on a lakehouse table), never a data
    scan; it is the input that makes compaction STATS-DRIVEN instead of
    a blind full rewrite."""
    import os

    out: dict[str, dict] = {}
    for dirpath, dirs, files in os.walk(root):
        # prune hidden/underscore subtrees in place (swap debris,
        # _temporary) — FileSourceScanExec never descends into them
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        data = [f for f in files if not f.startswith(("_", "."))]
        if not data:
            continue
        rel = os.path.relpath(dirpath, root)
        ent = out.setdefault(rel, {"n_files": 0, "bytes": 0, "files": {}})
        for f in data:
            st = os.stat(os.path.join(dirpath, f))
            ent["n_files"] += 1
            ent["bytes"] += st.st_size
            ent["files"][f] = [st.st_size, st.st_mtime_ns]
    return out


def compact_partitions(
    spark: SparkSession,
    root: str,
    max_files: int = 4,
    target_file_bytes: int = 128 * 1024 * 1024,
    only_partitions: set[str] | None = None,
) -> dict[str, dict]:
    """Selective (stats-driven) partition compaction — the incremental
    OPTIMIZE: rewrite ONLY the leaf partitions whose small-file count
    breaches ``max_files`` (driver-side listing metadata: the cost is
    O(fragmented bytes), never O(table)), each to 1..ceil(bytes/target)
    files; healthy leaves stay byte-untouched. Returns ``{rel_partition:
    {files_before, bytes_before, files_after, rewritten}}``.

    All breaching leaves are rewritten together, in a number of jobs
    that does not depend on how many breach (three under AQE): the
    schema merge, then one shuffle on (leaf, hash of input file mod the
    leaf's budget) — input files stay whole, as under a coalesce — and
    one partitioned write into a hidden stage in ``root``. The leaves are read as ONE frame with mergeSchema (appends
    may have EVOLVED a leaf's schema; a single-footer read would drop
    the added column), so every rewritten file carries the merged schema
    of all breaching leaves. Partition values are read as strings, so
    leaf names survive (``007`` stays ``007``, null stays null).

    Each staged leaf then swaps in on the driver: retire the live dir to
    a dot-prefixed sibling, rename the staged copy in, drop the retired
    one. Hidden names are invisible to scans (a bare ``x.__retired``
    would parse as a partition value). ``_recover_swaps`` repairs every
    crash window on the next run. Readers that listed files before a
    swap can lose them: single-writer maintenance-window semantics, as
    in Hive; ``operators/lakehouse.py`` turns the swap into an atomic
    manifest commit for tables that must serve reads during maintenance.
    """
    import os
    import shutil
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    stage = os.path.join(root, _STAGE)
    if only_partitions is not None:
        # post-ingest mode: a micro-batch writer knows exactly which
        # partitions it touched (distinct partition values of the batch
        # — a tiny aggregate), so maintenance lists ONLY those leaf
        # dirs and recovers swap debris only beside them — O(touched)
        # driver metadata instead of O(table): the full recursive walk
        # below never runs. Debris parked beside an UNTOUCHED partition
        # stays hidden (invisible to scans) until the next full-table
        # run repairs it. Rel paths, e.g. {"event_date=2024-01-03"}.
        shutil.rmtree(stage, ignore_errors=True)
        stats = {}
        for part in sorted(only_partitions):
            # a touched "partition" must be a relative path strictly
            # inside the root: "." / "" / ".." / an absolute path would
            # make the swap below retire the dataset root (or a dir
            # outside it) wholesale — reject loudly, these can only be
            # caller bugs. A partition VALUE that merely begins with two
            # dots (key=..x) is a legal leaf dir name.
            norm = os.path.normpath(part)
            if norm in (".", "..") or norm.startswith((".." + os.sep, os.sep)):
                raise ValueError(f"invalid touched-partition path {part!r}")
            live = os.path.join(root, part)
            _recover_swap_debris(live)
            ent = partition_file_stats(live).get(".")
            if ent is not None:
                stats[part] = ent
    else:
        _recover_swaps(root)
        stats = partition_file_stats(root)
        if "." in stats:
            raise ValueError(
                "data files at the dataset root — not a key=value partitioned "
                "layout; use compact_small_files for flat directories"
            )
    manifest = {
        p: {"files_before": e["n_files"], "bytes_before": e["bytes"],
            "files_after": e["n_files"], "rewritten": False}
        for p, e in sorted(stats.items())
    }
    breaching = [p for p in manifest if stats[p]["n_files"] > max_files]
    if not breaching:
        return manifest

    def values(part: str) -> list[tuple[str, str | None]]:
        """(key, value) of each level of ``part``, as Spark reads it."""
        pairs = [seg.split("=", 1) for seg in part.split(os.sep)]
        return [(k, None if v == _NULL_PARTITION else unquote(v)) for k, v in pairs]

    keys = [k for k, _ in values(breaching[0])]
    dirs = [os.path.join(root, p) for p in breaching]
    merged = spark.read.option("mergeSchema", True).option("basePath", root)
    inferred = merged.parquet(*dirs).schema
    schema = StructType(
        [StructField(f.name, StringType()) if f.name in keys else f for f in inferred]
    )
    n_out = {p: max(1, -(-stats[p]["bytes"] // target_file_bytes)) for p in breaching}
    budget = F.lit(1)  # n_out of the row's leaf, keyed on its values as read
    for part in (p for p in breaching if n_out[p] > 1):
        leaf = F.lit(True)
        for k, v in values(part):
            leaf = leaf & F.col(k).eqNullSafe(F.lit(v))
        budget = F.when(leaf, n_out[part]).otherwise(budget)
    salt = F.pmod(F.hash(F.input_file_name()), budget)
    df = spark.read.schema(schema).option("basePath", root).parquet(*dirs)
    df = df.repartition(sum(n_out.values()), *keys, salt)
    df.write.partitionBy(*keys).parquet(stage)
    for part in breaching:
        staged = os.path.join(stage, part)
        if not os.path.isdir(staged):
            continue  # a leaf of empty files stages no rows: left as is
        src = os.path.join(root, part)
        retired = _hidden_sibling(src, _RETIRED_SUFFIX)
        os.rename(src, retired)
        os.rename(staged, src)
        shutil.rmtree(retired)
        manifest[part]["files_after"] = len(partition_file_stats(src)["."]["files"])
        manifest[part]["rewritten"] = True
    shutil.rmtree(stage)
    return manifest


_COMPACTING_SUFFIX = ".__compacting"
_RETIRED_SUFFIX = ".__retired"
# compact_partitions' staging root inside the dataset root: hidden, and
# named so that _recover_swaps discards it like any orphaned temp
_STAGE = ".stage" + _COMPACTING_SUFFIX
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _hidden_sibling(path: str, suffix: str) -> str:
    """``.../.name<suffix>`` beside ``.../name`` — same filesystem (the
    renames stay atomic) and dot-prefixed (invisible to scans)."""
    import os

    d, b = os.path.split(path)
    return os.path.join(d, "." + b + suffix)


def _recover_swap_debris(live: str) -> None:
    """Repair swap debris beside ONE specific directory (the scoped
    form of ``_recover_swaps`` — same crash windows, same repairs, but
    O(1) stat calls instead of a recursive walk): discard an orphaned
    ``.name.__compacting`` temp, restore ``.name.__retired`` when the
    live dir is missing (death between the two renames), drop it when
    the live dir survived (the swap completed)."""
    import os
    import shutil

    tmp = _hidden_sibling(live, _COMPACTING_SUFFIX)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    retired = _hidden_sibling(live, _RETIRED_SUFFIX)
    if os.path.isdir(retired):
        if os.path.isdir(live):
            shutil.rmtree(retired)
        else:
            os.rename(retired, live)


def _recover_swaps(root: str) -> None:
    """Repair crash debris from an interrupted compact_partitions run.

    Crash windows and their repair, in swap order:
      - died during/after the temp write, before the renames ->
        ``.name.__compacting`` exists, live dir intact: discard temp
        (it may be a partial write; rebuild is cheap and safe);
      - died between the two renames -> ``.name.__retired`` exists and
        the live dir is MISSING: restore the retired dir (the data was
        never gone, only hidden — this is the window a lakehouse
        metadata commit closes atomically);
      - died before the retired cleanup -> both retired and live exist:
        the swap completed, drop the retired copy.

    Walks EVERY directory level (a multi-key layout parks debris inside
    the outer partition dirs, e.g. ``k1=a/.k2=b.__retired``), without
    descending into the debris itself."""
    import os
    import shutil

    for dirpath, dirs, _files in os.walk(root):
        hidden = [d for d in dirs if d.startswith(".")]
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for name in hidden:
            full = os.path.join(dirpath, name)
            if name.endswith(_COMPACTING_SUFFIX):
                shutil.rmtree(full)
            elif name.endswith(_RETIRED_SUFFIX):
                live = os.path.join(
                    dirpath, name[1 : -len(_RETIRED_SUFFIX)]
                )
                if os.path.isdir(live):
                    shutil.rmtree(full)
                else:
                    os.rename(full, live)


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a many-small-files parquet directory into ~target-size
    files. Returns the number of output files requested.

    The file count comes from the *actual* input byte size (driver-side
    filesystem metadata, not a data scan), so compaction of a 10 TB
    table plans exactly ceil(10 TB / target) tasks. ``coalesce`` (not
    ``repartition``) avoids a shuffle: each output task reads whole
    input files. Use this after streaming ingest; pair with
    ``cluster_by_range`` when reads filter on a key.
    """
    n_files = max(1, -(-_dir_bytes(spark, in_path) // target_file_bytes))
    df = spark.read.parquet(in_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def cluster_by_range(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
    out_path: str,
    n_files: int = 8,
) -> None:
    """Write ``df`` range-partitioned and sorted on ``keys`` so each
    output file owns a disjoint key range — parquet footer min/max
    stats then let any engine (Spark, DuckDB, Trino) skip whole files
    for selective key predicates.

    repartitionByRange samples the key distribution (so skewed keys
    still split evenly) and gives disjoint ranges across files;
    sortWithinPartitions orders rows inside each file so row-group
    stats are tight too. This is the batch form of clustering/Z-order
    for the single-key case; for multi-key locality use
    ``cluster_by_zorder``.
    """
    (
        df.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(out_path)
    )


ZORDER_BITS = 16  # per-dimension resolution of the space-filling curve


def zorder_key(df: DataFrame, keys: list[str], bits: int = ZORDER_BITS):
    """A Z-order (Morton) key column over numeric ``keys``.

    Each key is min/max-normalized to a ``bits``-bit integer (the
    min/max pass is one tiny 2-scalars-per-key aggregate, collected once
    — never data), then the bit planes are interleaved with a codegen'd
    fold: bit i of dimension d lands at position i*|keys| + d. Rows
    close on the curve are close in EVERY key dimension, so sorting by
    this one column gives multi-key file/row-group locality.
    """
    from pyspark.sql import functions as F

    aggs = []
    for k in keys:
        aggs += [F.min(k).alias(f"__min_{k}"), F.max(k).alias(f"__max_{k}")]
    stats = df.agg(*aggs).collect()[0]
    scaled = []
    for k in keys:
        lo, hi = float(stats[f"__min_{k}"]), float(stats[f"__max_{k}"])
        span = hi - lo if hi > lo else 1.0
        scaled.append(
            f"CAST(((CAST({k} AS DOUBLE) - {lo!r}) / {span!r}) * {(1 << bits) - 1} AS BIGINT)"
        )
    planes = " + ".join(
        f"shiftleft(shiftright({expr}, i) & 1L, CAST(i * {len(keys)} + {d} AS INT))"
        for d, expr in enumerate(scaled)
    )
    return F.expr(f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc + {planes})")


def cluster_by_zorder(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
    out_path: str,
    n_files: int = 8,
    bits: int = ZORDER_BITS,
) -> None:
    """Write ``df`` clustered on the Z-order curve over ``keys`` — the
    multi-key generalization of ``cluster_by_range``: every output file
    (and row group) covers a small hyper-rectangle of the key space, so
    parquet footer min/max stats prune files for selective predicates on
    ANY of the keys, not just the leading one.

    Same plan shape as cluster_by_range (range-partition + local sort on
    the derived key; the curve key is dropped from the output): one
    shuffle, linear in data, no driver data path. This is what
    engine-level CLUSTER BY / OPTIMIZE ZORDER BY compile to.
    """
    zkey = zorder_key(df, keys, bits).alias("__zorder")
    (
        df.withColumn("__zorder", zkey)
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def compact_snapshot_version(
    spark: SparkSession,
    target_dir: str,
    version: int,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact ONE committed snapshot version dir (``target_dir/v{n}``)
    in place — layout repair that must never break AS-OF reads: the
    rewrite goes to a dot-prefixed sibling (invisible to the version
    resolver, which only matches ``v(\\d+)`` names), the swap is the
    same retire/rename/drop sequence as compact_partitions, and the
    compacted dir carries its own Spark-written _SUCCESS so
    ``read_snapshot``'s committed-only rule still holds at every
    instant: before the swap readers serve the old files, after it the
    new — never a partial mix (single-writer maintenance window, as
    everywhere in this module). Content is byte-for-byte the same rows
    (coalesce re-packs whole files, no shuffle). Returns the requested
    output file count.

    Why per-version: snapshot versions are immutable after commit, so
    compaction never races the writer (which only ever creates NEW
    v{n+1} dirs) — the one maintenance job here that is safe to run
    beside live ingest.

    Crash recovery (r14 advice): function entry first repairs debris
    from ANY previously interrupted run over the whole target_dir — a
    death between the two swap renames leaves ``v{n}`` hidden as
    ``.v{n}.__retired``, which would make ``read_snapshot``'s latest
    read silently time-travel BACKWARD to the previous version and a
    rerun raise FileNotFoundError instead of repairing. Same repair
    table as ``_recover_swaps`` (restore retired when live is missing,
    drop it when live exists, discard orphaned temps); a restored
    version still carries its original _SUCCESS, so the committed-only
    read rule holds throughout. Schema note: a version dir is written
    by ONE Spark job (one schema), so the single-footer read here can
    never drop an evolved column the way a multi-writer partition
    could — no mergeSchema needed."""
    import os

    import shutil

    recover_snapshot_swaps(target_dir)
    src = os.path.join(target_dir, f"v{version}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        raise FileNotFoundError(f"no committed snapshot v{version} under {target_dir}")
    n_files = max(1, -(-_dir_bytes(spark, src) // target_file_bytes))
    tmp = _hidden_sibling(src, _COMPACTING_SUFFIX)
    retired = _hidden_sibling(src, _RETIRED_SUFFIX)
    spark.read.parquet(src).coalesce(n_files).write.parquet(tmp)
    os.rename(src, retired)
    os.rename(tmp, src)
    shutil.rmtree(retired)
    return n_files


def recover_snapshot_swaps(target_dir: str) -> None:
    """Repair crash debris from an interrupted ``compact_snapshot_version``
    run: one flat listing of ``target_dir`` (version stores are flat by
    construction — ``v{n}`` dirs only), applying the standard swap
    repair to every hidden sibling. Called at compaction entry; safe to
    call from operational tooling before reads too (single-writer
    maintenance window, like all swaps in this module)."""
    import os

    if not os.path.isdir(target_dir):
        return
    for name in os.listdir(target_dir):
        if not name.startswith("."):
            continue
        if name.endswith(_COMPACTING_SUFFIX):
            base = name[1 : -len(_COMPACTING_SUFFIX)]
        elif name.endswith(_RETIRED_SUFFIX):
            base = name[1 : -len(_RETIRED_SUFFIX)]
        else:
            continue
        if os.path.isdir(os.path.join(target_dir, name)):
            _recover_swap_debris(os.path.join(target_dir, base))


def vacuum_snapshot_versions(target_dir: str, keep_last: int = 2) -> list[str]:
    """Retention for the versioned MERGE snapshots that
    streaming.daily.run_upsert_foreach_batch writes (``target_dir/v{n}``):
    delete all but the newest ``keep_last`` versions, returning the
    deleted paths. The no-Delta equivalent of VACUUM — old versions
    exist only to let in-flight readers finish, so retention is a
    count (or age) policy, never "delete immediately after commit".

    Driver-side directory walk + delete: version counts are small by
    construction (one per micro-batch, already compacted), so this
    never touches executors. keep_last >= 1 is enforced — the newest
    version is the live snapshot."""
    import os
    import re
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the live snapshot)")
    if not os.path.isdir(target_dir):
        return []
    versions = []
    for name in os.listdir(target_dir):
        m = re.fullmatch(r"v(\d+)", name)
        if m and os.path.isdir(os.path.join(target_dir, name)):
            versions.append((int(m.group(1)), name))
    versions.sort()
    doomed = versions[:-keep_last] if keep_last < len(versions) else []
    deleted = []
    for _, name in doomed:
        path = os.path.join(target_dir, name)
        shutil.rmtree(path)
        deleted.append(path)
    return deleted
