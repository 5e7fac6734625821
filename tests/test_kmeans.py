"""Exact-trajectory parity for the distributed k-means: a local numpy
implementation mirroring the operator's arithmetic (6dp rounding of
distances, integer half-away-from-zero centroid means over exact 1e-9
coordinate sums, smaller-cid tie-break) must produce IDENTICAL
assignments — catching any nondeterminism in the Spark trajectory."""

from __future__ import annotations

from decimal import ROUND_HALF_EVEN, Decimal

import numpy as np
import pyarrow.parquet as pq

from dend_covid19_spark.operators.kmeans import ITERS, SEED_VEC_IDS, kmeans_clusters
from tests.conftest import SF_DIR


def _mean6(col: np.ndarray) -> float:
    """Mirror of _MEAN6_SPARK: each coordinate casts to decimal(18,9)
    (nearest 9 dp decimal — a double can never sit exactly half-way
    between two, so the tie mode is immaterial), sums exactly in 1e-9
    integer units, then rounds the mean half-away-from-zero to 6 dp as
    (2|a| + d) DIV (2d) with d = n * 1000."""
    a = sum(
        int(
            Decimal(float(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_EVEN)
            .scaleb(9)
        )
        for x in col
    )
    d = len(col) * 1000
    m6 = (2 * a + d) // (2 * d) if a >= 0 else -((2 * -a + d) // (2 * d))
    return m6 / 1e6


def _reference(sf_dir: str) -> dict[int, int]:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(t["vec_id"].to_pylist())
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)

    cents = {}
    for i, vid in enumerate(SEED_VEC_IDS):
        cents[i + 1] = np.round(X[ids == vid][0], 6)

    def assign(cents_d):
        cids = sorted(cents_d)
        C = np.stack([cents_d[c] for c in cids])
        d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
        # argmin with smaller-cid tie-break == numpy argmin (first minimum)
        return np.array([cids[j] for j in d2.argmin(axis=1)])

    for _ in range(ITERS):
        labels = assign(cents)
        cents = {
            c: np.array([_mean6(X[labels == c][:, j]) for j in range(X.shape[1])])
            for c in sorted(set(labels))
        }
    labels = assign(cents)
    return dict(zip(ids.tolist(), labels.tolist()))


def test_kmeans_matches_mirrored_reference(spark):
    got = {
        r.vec_id: r.cluster for r in kmeans_clusters(spark, SF_DIR).collect()
    }
    want = _reference(SF_DIR)
    assert got == want
    assert len(set(got.values())) > 1  # actually clustered, not collapsed


def test_codebook_scratch_cache_is_bit_exact(spark):
    """The r13 disk cache (train once per (sf, mtime, seeds) and
    process — pid-keyed since r18) must be VALUE-IDENTICAL to a fresh derivation —
    this equality is what exempts the codebook consumers from a RECHECK
    declaration: every centroid is a 6 dp integer quotient cast to
    double, and json round-trips shortest-repr doubles exactly. Compares
    the cached read (whatever path populated it) against an uncached
    _train_codebook run, exact float equality, both seed panels."""
    from pyspark.sql import functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.kmeans import (
        SEMDEDUP_SEED_IDS,
        _train_codebook,
        _trained_codebook,
    )

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb.persist()
    for seeds in (SEED_VEC_IDS, SEMDEDUP_SEED_IDS):
        cached = _trained_codebook(spark, emb, SF_DIR, seeds)
        fresh = _train_codebook(emb, list(seeds))
        assert cached == fresh  # exact, including float bit patterns
        # a second call must hit the L1 dict (same object, no retrain)
        assert _trained_codebook(spark, emb, SF_DIR, seeds) is cached
    emb.unpersist()
