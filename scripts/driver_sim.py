"""Simulate the driver's correctness harness end-to-end.

Runs ``entry(spark)`` plus every ``queries()[name]`` on a **vanilla**
SparkSession (no engine confs — the real driver gives us one of those) and
compares against ``oracle_sql()[name]`` via DuckDB exactly like the
driver: column-name set, row count, and the order-insensitive multiset of
stringified rows.

Usage:
    python scripts/driver_sim.py                     # sf0.01 (driver scale)
    SPARK_GRAFT_SIM_SF=/root/testdata/sf0.001 python scripts/driver_sim.py
    python scripts/driver_sim.py name1 name2 ...     # only these queries
    python scripts/driver_sim.py --first50           # driver's checked window
    python scripts/driver_sim.py --master local[1] --conf spark.sql.shuffle.partitions=1 name1

``--master`` (default ``local[8]``, the driver's) and any number of
``--conf key=value`` set up the session; query names follow them.
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description="driver oracle check")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    ap.add_argument("--first50", action="store_true")
    ap.add_argument("names", nargs="*")
    opts = ap.parse_args()
    builder = SparkSession.builder.master(opts.master).config("spark.ui.enabled", "false")
    for kv in opts.conf:
        builder = builder.config(*kv.split("=", 1))
    spark = builder.getOrCreate()
    import __spark_entry__ as contract

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    df = contract.entry(spark)
    n = df.count()
    print(f"entry rows: {n} cols: {df.columns}")
    assert n > 0, "entry() returned 0 rows"

    qs, osql = contract.queries(), contract.oracle_sql()
    if opts.first50:
        qs = dict(list(qs.items())[:50])
    elif opts.names:
        unknown = [a for a in opts.names if a not in qs]
        assert not unknown, f"unknown query names: {unknown}"
        qs = {a: qs[a] for a in opts.names}
    fails: list[str] = []
    for name, fn in sorted(qs.items()):
        try:
            sdf = fn(spark, SF_DIR)
            rows = sdf.collect()
            cols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {exc}")
            fails.append(name)
            continue
        if name not in osql:
            print(f"{name}: rows-only {len(rows)}")
            if len(rows) == 0:
                fails.append(name)
            continue
        try:
            rel = con.execute(osql[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {exc}")
            fails.append(name)
            continue
        so = sorted(range(len(cols)), key=lambda i: cols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sset = sorted(tuple(norm(r[i]) for i in so) for r in rows)
        dset = sorted(tuple(norm(r[i]) for i in do) for r in drows)
        ok = sorted(cols) == sorted(dcols) and sset == dset
        print(f"{name}: rows={len(rows)} match={ok}")
        if not ok:
            fails.append(name)
            if sorted(cols) != sorted(dcols):
                print(f"  cols spark={sorted(cols)} duck={sorted(dcols)}")
            else:
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"  spark: {a}\n  duck:  {b}")
                        break
    print("FAILS:", fails)
    _report_row_ages()
    return 1 if fails else 0


def _report_row_ages() -> None:
    """Staleness metric alongside FAILS: how old is the OLDEST latest
    driver row across the registry, and which names hold it — so a
    rotation regression (a name stuck outside the checked window) shows
    up in this artifact instead of being recomputed by the judge. Ages
    are in rounds relative to the newest CORRECTNESS report on disk;
    never-checked registered names are listed separately."""
    try:
        from dend_covid19_spark.plans import _latest_rows
        from dend_covid19_spark.plans.registry import registered_names

        last, max_rnd, _ = _latest_rows()
        if not max_rnd:
            return
        ages = {
            n: max_rnd - last[n][0] for n in registered_names() if n in last
        }
        never = sorted(n for n in registered_names() if n not in last)
        worst = max(ages.values(), default=0)
        stalest = sorted(n for n, a in ages.items() if a == worst)
        print(
            f"max_row_age_rounds: {worst} (vs r{max_rnd}; "
            f"{len(stalest)} names, e.g. {stalest[:5]}); "
            f"never_checked: {len(never)}"
        )
    except Exception as exc:  # noqa: BLE001 — diagnostics must not flip rc
        print(f"max_row_age_rounds: unavailable ({exc})")


if __name__ == "__main__":
    raise SystemExit(main())
