"""Top principal component of the embeddings table by power iteration —
the second 'iterative algorithm on Spark' shape next to kmeans.py, and
the embedding-analytics primitive behind whitening, anisotropy checks
("is the embedding space collapsing?"), and spectral outlier scoring.

Per iteration (v is the current direction estimate, a d-vector the
driver holds and broadcasts as a literal — never data-sized):
  1. score    — per-row projection s = <x, v> as a sequential fold in
               codegen (same left-to-right order as the oracle's
               list_reduce, rounded to 6 dp);
  2. matvec   — w = X^T (X v) via posexplode to (pos, x_j * s) and a
               DECIMAL(28,12)-exact sum per pos (map-side partials do
               nearly all the reduction; the shuffle carries d=64 groups);
  3. re-norm  — ||w|| from a DECIMAL(38,18)-exact sum of squares, new
               v = w / ||w|| rounded to 6 dp PER ITERATION, so the whole
               trajectory is reproducible across partitionings/engines.

Oracle: like kmeans_clusters, the fixed ITERS iterations UNROLL as
DuckDB CTEs mirroring the arithmetic exactly. The sign of the component
is pinned by the deterministic start vector (uniform 1/sqrt(d)), not
arbitrary. Output is (vec_id, label, pc1_score) — the projection onto
the converged direction; no array columns surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, share_scope
from ..plans.registry import query

D = 64
PCA_ITERS = 2
V0 = 0.125  # 1/sqrt(64): exact in binary, unit-norm uniform start


def _spark_dot(vlit: str) -> str:
    return (
        f"round(aggregate(zip_with(v, {vlit}, (x, y) -> x * y), 0D,"
        " (acc, d) -> acc + d), 6)"
    )


_DUCK_DOT = (
    "round(list_reduce(list_transform(range(1, {d1}), i -> v[i] * {vv}[i]),"
    " (acc, x) -> acc + x), 6)"
)


def _duck_pca_oracle() -> str:
    parts = [
        "emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        f"vv0 AS (SELECT list_transform(range(1, {D + 1}),"
        f" i -> CAST({V0} AS DOUBLE)) AS vv)",
    ]
    for i in range(PCA_ITERS):
        dot = _DUCK_DOT.format(d1=D + 1, vv="vv")
        parts.append(
            f"s{i + 1} AS (SELECT vec_id, v, {dot} AS s"
            f" FROM emb CROSS JOIN vv{i})"
        )
        parts.append(
            f"w{i + 1} AS (SELECT pos,"
            " round(CAST(sum(CAST(v[CAST(pos AS INT)] * s AS DECIMAL(28,12)))"
            " AS DOUBLE), 6) AS w"
            f" FROM s{i + 1} CROSS JOIN"
            f" (SELECT unnest(range(1, {D + 1})) AS pos) p GROUP BY pos)"
        )
        parts.append(
            f"n{i + 1} AS (SELECT round(sqrt(CAST(sum(CAST(w * w"
            " AS DECIMAL(38,18))) AS DOUBLE)), 6) AS nrm"
            f" FROM w{i + 1})"
        )
        parts.append(
            f"vv{i + 1} AS (SELECT list(round(w / nrm, 6) ORDER BY pos) AS vv"
            f" FROM w{i + 1} CROSS JOIN n{i + 1})"
        )
    final_dot = _DUCK_DOT.format(d1=D + 1, vv="vv")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, label, {final_dot} AS pc1_score"
        + f" FROM emb CROSS JOIN vv{PCA_ITERS}"
    )


def _vlit(v: list[float]) -> str:
    return "array(" + ", ".join(f"{x!r}D" for x in v) + ")"


def _power_step(emb: DataFrame, v: list[float]) -> list[float]:
    """One X^T(Xv) + renormalize step; returns the next direction
    (d values, engine-rounded) — the only thing the driver holds."""
    scored = emb.withColumn("s", F.expr(_spark_dot(_vlit(v))))
    w = (
        scored.select("s", F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.round(
                F.sum((F.col("x") * F.col("s")).cast("decimal(28,12)")).cast(
                    "double"
                ),
                6,
            ).alias("w")
        )
    )
    nrm = w.agg(
        F.expr(
            "round(sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)), 6)"
            " AS nrm"
        )
    )
    rows = (
        w.crossJoin(F.broadcast(nrm))
        .select("pos", F.expr("round(w / nrm, 6) AS vv"))
        .collect()
    )
    return [r.vv for r in sorted(rows, key=lambda r: r.pos)]


@query("embedding_pca_power", oracle=_duck_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of every embedding onto the corpus's top principal
    component, found by PCA_ITERS power iterations from a pinned start
    direction. Hash-checked against the unrolled-CTE DuckDB twin.

    Scale: each iteration is one scan + one d-group shuffle (map-side
    partial decimal sums); the driver round-trips a d-vector per
    iteration, never data. The persisted input is scanned ITERS + 1
    times; at 100 TB you'd checkpoint X v instead of recomputing — same
    plan shape."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    emb.persist()
    try:
        v = [V0] * D
        with share_scope(spark, sf_dir, "embeddings"):  # one job per step
            for _ in range(PCA_ITERS):
                v = _power_step(emb, v)
        return emb.select(
            "vec_id", "label", F.expr(_spark_dot(_vlit(v))).alias("pc1_score")
        )
    finally:
        emb.unpersist()
