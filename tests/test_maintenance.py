"""Small-file compaction and range-clustered writes: file counts, data
parity, and the disjoint min/max ranges that make file-level pruning
work."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from dend_covid19_spark.catalog import load_table
from dend_covid19_spark.operators.maintenance import (
    cluster_by_range,
    cluster_by_zorder,
    compact_small_files,
)

from conftest import SF_DIR


def _data_files(path: str) -> list[str]:
    return sorted(
        f for f in glob.glob(f"{path}/*.parquet") if not f.startswith("_")
    )


def test_compact_small_files(spark, tmp_path):
    """64 tiny files in, few right-sized files out, same rows."""
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    orders = load_table(spark, "orders", SF_DIR)
    orders.repartition(64).write.parquet(src)
    assert len(_data_files(src)) == 64

    compact_small_files(spark, src, dst, target_file_bytes=512 * 1024)
    out_files = _data_files(dst)
    assert 1 <= len(out_files) <= 4
    assert spark.read.parquet(dst).count() == orders.count()


def test_cluster_by_range_disjoint_file_stats(spark, tmp_path):
    """Range-clustered output files own disjoint o_custkey ranges
    (footer min/max don't overlap), so a custkey predicate can skip
    every file but one."""
    dst = str(tmp_path / "clustered")
    orders = load_table(spark, "orders", SF_DIR)
    cluster_by_range(spark, orders, ["o_custkey"], dst, n_files=8)

    ranges = []
    for f in _data_files(dst):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_custkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping file ranges: {ranges}"
    assert spark.read.parquet(dst).count() == orders.count()


def _file_spans(path: str, col: str) -> list[tuple]:
    """(min, max) footer stats per data file for ``col``."""
    spans = []
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == col
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    return spans


def test_cluster_by_zorder_localizes_both_keys(spark, tmp_path):
    """Z-order clustering on (o_custkey, o_totalprice) must give BOTH
    keys file-level locality: every file's footer min/max span is a
    fraction of the global span in each dimension — which single-key
    range clustering cannot do for the second key (its per-file span
    stays ~the whole domain). That locality is what lets footer stats
    prune files for predicates on either key."""
    dst_z = str(tmp_path / "zordered")
    dst_r = str(tmp_path / "ranged")
    orders = load_table(spark, "orders", SF_DIR)
    keys = ["o_custkey", "o_totalprice"]
    cluster_by_zorder(spark, orders, keys, dst_z, n_files=8)
    cluster_by_range(spark, orders, ["o_custkey"], dst_r, n_files=8)

    assert spark.read.parquet(dst_z).count() == orders.count()
    for col in keys:
        glob_lo = min(lo for lo, _ in _file_spans(dst_z, col))
        glob_hi = max(hi for _, hi in _file_spans(dst_z, col))
        width = float(glob_hi) - float(glob_lo)
        spans = _file_spans(dst_z, col)
        avg_frac = sum((float(hi) - float(lo)) / width for lo, hi in spans) / len(spans)
        assert avg_frac < 0.65, f"{col}: z-order files too wide ({avg_frac:.2f})"

    # the single-key layout leaves the NON-leading key unlocalized
    r_spans = _file_spans(dst_r, "o_totalprice")
    r_lo = min(float(lo) for lo, _ in r_spans)
    r_hi = max(float(hi) for _, hi in r_spans)
    r_avg = sum((float(hi) - float(lo)) / (r_hi - r_lo) for lo, hi in r_spans) / len(r_spans)
    z_spans = _file_spans(dst_z, "o_totalprice")
    z_avg = sum((float(hi) - float(lo)) / (r_hi - r_lo) for lo, hi in z_spans) / len(z_spans)
    assert z_avg < r_avg, "z-order should localize o_totalprice better than range-by-custkey"


def test_clustered_scan_prunes(spark, tmp_path):
    """A selective key predicate over the clustered layout reads fewer
    rows than the table (row-group pruning visible via metrics proxy:
    the filter result is correct and the files are skippable)."""
    dst = str(tmp_path / "clustered2")
    orders = load_table(spark, "orders", SF_DIR)
    cluster_by_range(spark, orders, ["o_custkey"], dst, n_files=8)
    key = orders.agg({"o_custkey": "min"}).collect()[0][0]
    got = spark.read.parquet(dst).where(f"o_custkey = {key}").count()
    want = orders.where(f"o_custkey = {key}").count()
    assert got == want > 0


def test_vacuum_snapshot_versions(tmp_path):
    from dend_covid19_spark.operators.maintenance import vacuum_snapshot_versions

    target = tmp_path / "snaps"
    for i in (0, 1, 2, 5):  # non-contiguous batch ids survive restarts
        (target / f"v{i}").mkdir(parents=True)
        (target / f"v{i}" / "part-0.parquet").write_bytes(b"x")
    (target / "not_a_version").mkdir()

    deleted = vacuum_snapshot_versions(str(target), keep_last=2)
    assert [p.rsplit("/", 1)[1] for p in deleted] == ["v0", "v1"]
    kept = sorted(p.name for p in target.iterdir())
    assert kept == ["not_a_version", "v2", "v5"]

    # keep_last larger than version count deletes nothing
    assert vacuum_snapshot_versions(str(target), keep_last=10) == []
    # the live snapshot can never be vacuumed
    import pytest

    with pytest.raises(ValueError):
        vacuum_snapshot_versions(str(target), keep_last=0)


def test_compact_partitions_selective_swap(spark, tmp_path):
    """compact_partitions rewrites only breaching partitions, swaps
    in place (no temp/retired debris left), and preserves rows —
    including the crash-debris precondition: a leftover __compacting
    sibling from a killed prior run is discarded, never trusted."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "part")
    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    # buckets 0/1 fragmented (8 files), 2/3 healthy (1 file)
    orders.where("bucket < 2").repartition(8).write.partitionBy("bucket").parquet(root)
    orders.where("bucket >= 2").repartition("bucket").write.mode("append").partitionBy(
        "bucket"
    ).parquet(root)
    # plant crash debris beside a breaching partition — dot-prefixed
    # (hidden from scans; a bare name would parse as a partition value)
    debris = os.path.join(root, ".bucket=0.__compacting")
    os.makedirs(debris)
    open(os.path.join(debris, "junk"), "w").close()

    pre = partition_file_stats(root)
    manifest = compact_partitions(spark, root, max_files=4)
    post = partition_file_stats(root)

    assert {p for p, r in manifest.items() if r["rewritten"]} == {
        "bucket=0",
        "bucket=1",
    }
    for b in ("bucket=2", "bucket=3"):
        assert post[b]["files"] == pre[b]["files"]
    for b in ("bucket=0", "bucket=1"):
        assert post[b]["n_files"] == 1
    assert not os.path.exists(debris)
    assert not any(
        name.endswith(("__compacting", "__retired")) for name in os.listdir(root)
    )
    assert spark.read.parquet(root).count() == orders.count()


def test_compact_partitions_recovers_interrupted_swap(spark, tmp_path):
    """The between-renames crash window: the live partition dir is
    missing and its data sits in the hidden .__retired sibling. The
    next run must restore it BEFORE computing stats — no data loss,
    and the restored partition still compacts if it breaches. Also:
    hidden debris never surfaces as a phantom partition value in a
    scan over the root."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import compact_partitions

    root = str(tmp_path / "part")
    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    )
    orders.repartition(8).write.partitionBy("bucket").parquet(root)

    # simulate death between rename(src -> retired) and rename(tmp -> src)
    live = os.path.join(root, "bucket=0")
    retired = os.path.join(root, ".bucket=0.__retired")
    os.rename(live, retired)
    # a scan in this state must not see bucket 0 (hidden) — and must
    # not see a phantom value either
    vals = {r.bucket for r in spark.read.parquet(root).select("bucket").distinct().collect()}
    assert vals == {1}

    manifest = compact_partitions(spark, root, max_files=4)
    assert manifest["bucket=0"]["rewritten"]  # restored, then compacted
    assert not os.path.exists(retired)
    assert spark.read.parquet(root).count() == orders.count()

    # completed-swap debris (retired beside an intact live dir) is dropped
    shutil.copytree(os.path.join(root, "bucket=1"), os.path.join(root, ".bucket=1.__retired"))
    compact_partitions(spark, root, max_files=4)
    assert not os.path.exists(os.path.join(root, ".bucket=1.__retired"))
    assert spark.read.parquet(root).count() == orders.count()


def test_recover_swaps_property_random_debris(tmp_path):
    """Property: from ANY combination of (live, .__retired,
    .__compacting) dir presence per partition — every state an
    interrupted run can leave — recovery yields: no hidden debris,
    and the live dir present iff the partition's data existed in
    either live or retired form (retired only restores when live is
    missing; data is never lost, never duplicated)."""
    import itertools
    import os
    import shutil

    from dend_covid19_spark.operators.maintenance import _recover_swaps

    # all 8 presence combos, each as its own partition in one root
    root = tmp_path / "root"
    cases = list(itertools.product([False, True], repeat=3))
    for i, (live, retired, compacting) in enumerate(cases):
        part = f"k={i}"
        if live:
            d = root / part
            d.mkdir(parents=True)
            (d / "live.parquet").write_bytes(b"L")
        if retired:
            d = root / f".{part}.__retired"
            d.mkdir(parents=True)
            (d / "old.parquet").write_bytes(b"R")
        if compacting:
            d = root / f".{part}.__compacting"
            d.mkdir(parents=True)
            (d / "tmp.parquet").write_bytes(b"C")

    _recover_swaps(str(root))

    for i, (live, retired, compacting) in enumerate(cases):
        part = f"k={i}"
        assert not (root / f".{part}.__retired").exists()
        assert not (root / f".{part}.__compacting").exists()
        should_exist = live or retired
        assert (root / part).exists() == should_exist, (part, live, retired)
        if should_exist:
            # live data wins over retired (retired is pre-swap state;
            # if live survived, the swap completed with NEWER files)
            marker = (root / part / ("live.parquet" if live else "old.parquet"))
            assert marker.exists()
    # nothing hidden left anywhere
    assert not [n for n in os.listdir(root) if n.startswith(".")]
    shutil.rmtree(root)


def test_compact_partitions_nested_layout(spark, tmp_path):
    """Multi-key (nested) partition layouts: stats key on the full
    relative path, only breaching leaves rewritten, and swap recovery
    reaches debris parked INSIDE an outer partition dir."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import (
        _recover_swaps,
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "nested")
    orders = (
        load_table(spark, "orders", SF_DIR)
        .withColumn("a", (F.col("o_orderkey") % 2).cast("int"))
        .withColumn("b", (F.col("o_orderkey") % 3).cast("int"))
    )
    orders.where("a = 0").repartition(6).write.partitionBy("a", "b").parquet(root)
    orders.where("a = 1").repartition("b").write.mode("append").partitionBy(
        "a", "b"
    ).parquet(root)

    # nested debris: retired leaf inside a=1 with its live dir missing
    live = os.path.join(root, "a=1", "b=0")
    os.rename(live, os.path.join(root, "a=1", ".b=0.__retired"))
    _recover_swaps(root)
    assert os.path.isdir(live), "nested retired leaf not restored"

    manifest = compact_partitions(spark, root, max_files=4)
    assert set(manifest) == {f"a={i}/b={j}" for i in (0, 1) for j in (0, 1, 2)}
    rewritten = {p for p, r in manifest.items() if r["rewritten"]}
    assert rewritten == {f"a=0/b={j}" for j in (0, 1, 2)}, rewritten
    post = partition_file_stats(root)
    assert all(post[p]["n_files"] == 1 for p in rewritten)
    assert spark.read.parquet(root).count() == orders.count()


def test_compact_partitions_rejects_flat_layout(spark, tmp_path):
    """A flat (non-partitioned) directory must be refused loudly —
    the hidden-sibling swap is defined on key=value leaves; flat dirs
    belong to compact_small_files."""
    import pytest

    from dend_covid19_spark.operators.maintenance import compact_partitions

    flat = str(tmp_path / "flat")
    load_table(spark, "orders", SF_DIR).limit(100).write.parquet(flat)
    with pytest.raises(ValueError, match="compact_small_files"):
        compact_partitions(spark, flat, max_files=1)


def test_compact_partitions_scoped_to_touched_set(spark, tmp_path):
    """The streaming-trigger building block: with only_partitions (what
    a micro-batch writer knows it touched), compaction considers
    EXACTLY that set — untouched partitions get no manifest entry and
    stay byte-identical even when they breach the threshold."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "part")
    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    # ALL four buckets breach (8 files each)
    orders.repartition(8).write.partitionBy("bucket").parquet(root)
    pre = partition_file_stats(root)
    assert all(pre[p]["n_files"] > 4 for p in pre)

    touched = {"bucket=1", "bucket=3"}
    manifest = compact_partitions(spark, root, max_files=4, only_partitions=touched)
    post = partition_file_stats(root)

    assert set(manifest) == touched
    assert all(manifest[p]["rewritten"] for p in touched)
    for p in ("bucket=0", "bucket=2"):  # breaching but untouched
        assert post[p]["files"] == pre[p]["files"], p
    for p in touched:
        assert post[p]["n_files"] == 1
    assert spark.read.parquet(root).count() == orders.count()


def test_compact_snapshot_version_recovers_interrupted_swap(spark, tmp_path):
    """The r14 advice's crash window, repaired: death between
    rename(src -> retired) and rename(tmp -> src) leaves v{n} hidden as
    .v{n}.__retired — read_snapshot's latest read silently serves the
    OLDER version (backward time travel) and, before the fix, a rerun
    raised FileNotFoundError instead of repairing. Entry-time recovery
    must restore the hidden version, then compact it normally; orphaned
    .__compacting temps and completed-swap .__retired copies are
    discarded."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import (
        compact_snapshot_version,
        recover_snapshot_swaps,
    )
    from dend_covid19_spark.streaming.daily import read_snapshot

    target = str(tmp_path / "snaps")
    orders = load_table(spark, "orders", SF_DIR)
    orders.where(F.col("o_orderkey") % 3 == 0).repartition(4).write.parquet(
        os.path.join(target, "v0")
    )
    orders.repartition(4).write.parquet(os.path.join(target, "v1"))
    want_v1 = orders.count()

    # death between the two renames: v1 hidden, latest read regresses
    os.rename(
        os.path.join(target, "v1"), os.path.join(target, ".v1.__retired")
    )
    assert read_snapshot(spark, target).count() < want_v1  # the failure mode
    # plus an orphaned temp from the same dead run
    os.makedirs(os.path.join(target, ".v1.__compacting"))

    n_req = compact_snapshot_version(
        spark, target, 1, target_file_bytes=1 << 40
    )
    assert n_req == 1
    assert not os.path.exists(os.path.join(target, ".v1.__retired"))
    assert not os.path.exists(os.path.join(target, ".v1.__compacting"))
    assert read_snapshot(spark, target).count() == want_v1
    files = [
        f
        for f in os.listdir(os.path.join(target, "v1"))
        if not f.startswith(("_", "."))
    ]
    assert len(files) == 1

    # completed-swap debris (retired beside an intact live dir): dropped
    shutil.copytree(
        os.path.join(target, "v0"), os.path.join(target, ".v0.__retired")
    )
    recover_snapshot_swaps(target)
    assert not os.path.exists(os.path.join(target, ".v0.__retired"))
    assert read_snapshot(spark, target, version=0).count() == orders.where(
        F.col("o_orderkey") % 3 == 0
    ).count()


def test_compact_partitions_scoped_recovery_is_local(spark, tmp_path):
    """With only_partitions, both the listing AND the swap recovery are
    scoped to the touched set (r14 advice: before, every micro-batch
    paid two full recursive walks): a touched partition hidden by a
    between-renames crash is restored and compacted, while debris
    beside an UNTOUCHED partition is left exactly in place (hidden from
    scans; the next full-table run repairs it)."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import compact_partitions

    root = str(tmp_path / "part")
    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    )
    orders.repartition(8).write.partitionBy("bucket").parquet(root)

    os.rename(
        os.path.join(root, "bucket=0"), os.path.join(root, ".bucket=0.__retired")
    )
    os.rename(
        os.path.join(root, "bucket=1"), os.path.join(root, ".bucket=1.__retired")
    )

    manifest = compact_partitions(
        spark, root, max_files=4, only_partitions={"bucket=0"}
    )
    assert set(manifest) == {"bucket=0"}
    assert manifest["bucket=0"]["rewritten"]
    assert os.path.isdir(os.path.join(root, "bucket=0"))
    # untouched partition's debris untouched: still hidden, not restored
    assert os.path.isdir(os.path.join(root, ".bucket=1.__retired"))
    assert not os.path.isdir(os.path.join(root, "bucket=1"))
    # a touched partition that simply doesn't exist yields no entry
    assert compact_partitions(
        spark, root, max_files=4, only_partitions={"bucket=9"}
    ) == {}


def test_compact_partitions_merges_evolved_schema(spark, tmp_path):
    """A partition whose micro-batch files EVOLVED (newer files carry an
    added column) must compact losslessly: the rewrite reads with
    mergeSchema, so the added column survives (NULL-filled for
    pre-evolution rows) instead of being silently dropped by a
    single-footer read (r14 advice)."""
    import glob as _glob
    import os
    import shutil

    from dend_covid19_spark.operators.maintenance import compact_partitions

    root = tmp_path / "evolved"
    leaf = root / "k=0"
    leaf.mkdir(parents=True)

    old = spark.range(3).selectExpr("id AS a")
    new = spark.range(3, 6).selectExpr("id AS a", "CAST(id AS STRING) AS b")
    for i, df in enumerate([old, new]):
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copyfile(part, leaf / f"data{i}.parquet")

    manifest = compact_partitions(spark, str(root), max_files=1)
    assert manifest["k=0"]["rewritten"]
    got = spark.read.option("mergeSchema", True).parquet(str(root))
    assert set(got.columns) == {"a", "b", "k"}
    rows = {(r.a, r.b) for r in got.collect()}
    assert rows == {(0, None), (1, None), (2, None), (3, "3"), (4, "4"), (5, "5")}


def test_compact_partitions_rejects_escaping_touched_paths(spark, tmp_path):
    """A touched-partition entry of '.', '', '..'-prefixed or absolute
    would make the scoped swap retire the dataset root (or a directory
    outside it) wholesale — refused loudly as a caller bug."""
    import pytest

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import compact_partitions

    root = str(tmp_path / "part")
    load_table(spark, "orders", SF_DIR).limit(200).withColumn(
        "bucket", (F.col("o_orderkey") % 2).cast("int")
    ).write.partitionBy("bucket").parquet(root)

    for bad in (".", "", "..", "../elsewhere", "/abs/path", "a/../.."):
        with pytest.raises(ValueError, match="invalid touched-partition"):
            compact_partitions(spark, root, max_files=0, only_partitions={bad})
    # a valid rel path still works
    m = compact_partitions(spark, root, max_files=0, only_partitions={"bucket=0"})
    assert set(m) == {"bucket=0"}


def test_compact_partitions_pool_saturated_many_breaching(spark, tmp_path):
    """With many breaching partitions every partition must still be
    rewritten exactly once, the manifest must record all of them in
    deterministic (sorted) order, and no swap debris may remain."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "part")
    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % 12).cast("int")
    )
    n_rows = orders.count()
    # all 12 buckets fragmented (3 files each)
    orders.repartition(3).write.partitionBy("bucket").parquet(root)

    manifest = compact_partitions(spark, root, max_files=1)
    post = partition_file_stats(root)

    assert list(manifest) == sorted(manifest)
    assert all(rec["rewritten"] for rec in manifest.values())
    assert len(manifest) == 12
    for part in manifest:
        assert post[part]["n_files"] == 1
    assert not any(
        name.endswith(("__compacting", "__retired")) for name in os.listdir(root)
    )
    assert spark.read.parquet(root).count() == n_rows


def _fragmented_buckets(spark, root: str, n_buckets: int):
    """orders written under ``bucket=0..n_buckets-1``, 3 files each."""
    from pyspark.sql import functions as F

    orders = load_table(spark, "orders", SF_DIR).withColumn(
        "bucket", (F.col("o_orderkey") % n_buckets).cast("int")
    )
    orders.repartition(3).write.partitionBy("bucket").parquet(root)
    return orders


def test_compact_partitions_job_count_is_constant(spark, tmp_path):
    """One rewrite covers every breaching leaf: compacting one leaf and
    compacting eight launch the same number of jobs (counted by job id,
    so jobs from any thread count)."""
    from test_profile_query import _profile_query

    from dend_covid19_spark.operators.maintenance import compact_partitions

    last_job_id = _profile_query().last_job_id
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 8):
        root = str(tmp_path / f"b{n}")
        _fragmented_buckets(spark, root, n)
        before = last_job_id(sc)
        manifest = compact_partitions(spark, root, max_files=1)
        jobs[n] = last_job_id(sc) - before
        assert sum(r["rewritten"] for r in manifest.values()) == n
    assert jobs[1] == jobs[8], jobs


def test_compact_partitions_splits_a_leaf_to_its_budget(spark, tmp_path):
    """A leaf over ``target_file_bytes`` is rewritten to between 1 and
    ceil(bytes / target) files (whole input files per output file), and
    the rows are unchanged."""
    from dend_covid19_spark.operators.maintenance import compact_partitions

    root = str(tmp_path / "part")
    orders = _fragmented_buckets(spark, root, 2)
    want = sorted(map(tuple, orders.collect()))
    manifest = compact_partitions(spark, root, max_files=1, target_file_bytes=1 << 12)
    budgets = {p: -(-r["bytes_before"] // (1 << 12)) for p, r in manifest.items()}
    assert max(budgets.values()) >= 2, budgets
    for p, r in manifest.items():
        assert r["rewritten"]
        assert 1 <= r["files_after"] <= budgets[p], (p, r)
    got = spark.read.parquet(root).select(*orders.columns)
    assert sorted(map(tuple, got.collect())) == want
