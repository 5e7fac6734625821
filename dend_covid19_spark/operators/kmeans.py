"""Iterative k-means over the embeddings table — the 'iterative algorithm
on Spark' shape (Lloyd's algorithm), built from the same decomposition as
embedding_centroid_per_label.

Per iteration:
  1. assignment — broadcast the k x d codebook, per-row argmin of squared
     L2 distance entirely inside codegen (transform + array_max; no
     shuffle, no window);
  2. update — posexplode to (cluster, pos, x), decimal-exact mean per
     (cluster, pos) (map-side partials do nearly all the reduction),
     collect k*d values to the driver and re-broadcast.

The driver only ever holds the codebook (k x d doubles) — never data.
Determinism: distances and updated centroids round to 6 dp each
iteration with ties broken toward the smaller cluster id, so the whole
trajectory is reproducible across partitionings/retries (and mirrorable
by the numpy reference in tests/test_kmeans.py).

Oracle: an open-ended fixpoint isn't single-statement SQL, but ITERS is
a fixed constant — so the DuckDB twin UNROLLS the three Lloyd iterations
as nested CTEs mirroring the arithmetic exactly (sequential fold for
distances via list_reduce, DECIMAL(18,9)-exact means, 6 dp rounds, ties
to the smaller cid). The driver hash-checks the full trajectory's final
assignment; the pytest twin additionally checks exact assignment
agreement against a mirrored numpy reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, share, share_scope
from ..plans.registry import query

K = 4
ITERS = 3
SEED_VEC_IDS = [1, 2, 3, 4]  # deterministic init: k pinned vectors


def _dist_scores(cents_expr: str, v: str = "v") -> str:
    """array<struct<negd, negcid>> whose array_max picks the nearest
    centroid: maximize (-rounded_distance, -cid) == minimize (distance,
    cid)."""
    return (
        f"transform({cents_expr}, c -> struct("
        f"-round(aggregate(zip_with({v}, c.cvec, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, d) -> acc + d), 6) AS negd, -c.cid AS negcid))"
    )


def _codebook_row(spark: SparkSession, cents_rows: list) -> DataFrame:
    """The trained codebook as one broadcastable ``cents`` row."""
    return spark.createDataFrame(
        [([(int(cid), [float(x) for x in vec]) for cid, vec in cents_rows],)],
        "cents array<struct<cid:int,cvec:array<double>>>",
    )


def _assign(emb: DataFrame, cents_rows: list[tuple[int, list[float]]]) -> DataFrame:
    """Append (cluster, dist2) via a broadcast one-row codebook.

    The codebook travels as DATA — a one-row array<struct<cid, cvec>>
    DataFrame cross-broadcast onto the scan — not as literal SQL text.
    Inlining k x d doubles as literals made Catalyst fold and janino
    compile a ~25 KB expression tree per call, twice per iteration:
    ~50 s of driver-side plan work for the 3-iteration trajectory
    (the r11 cold-start finding). Same arithmetic, same 6 dp rounding,
    same smaller-cid tie-break; the argmin still runs inside codegen."""
    best = f"array_max({_dist_scores('cents')})"
    return (
        emb.join(F.broadcast(_codebook_row(emb.sparkSession, cents_rows)))
        .withColumn("_best", F.expr(best))
        .withColumn("cluster", F.expr("-_best.negcid"))
        .withColumn("dist2", F.expr("-_best.negd"))
        .drop("_best", "cents")
    )


# Per-(cluster, pos) centroid mean, rounded to 6 dp as INTEGERS: with
# a = the exact coordinate sum in 1e-9 units (the decimal(18,9) casts
# make the sum exact) and d = count * 1000, the 6 dp mean is the
# round-half-away-from-zero quotient (2|a| + d) DIV (2d), sign-mirrored.
# The previous round(double quotient, 6) was the same engine-dependent
# half-way class the round-11 davg fix closed (fuzz seed 53): Spark
# HALF_UPs the shortest decimal repr while DuckDB rounds the binary
# value — audited here per the r11 advice. BIGINT bound (r12 advice
# 2): the formula computes 2*|a| on the 1e-9-unit sum, so the usable
# headroom is HALF the naive range — silent non-ANSI wraparound hits at
# |sum| ~ 4.6e9 raw units (2^63 / 2 / 1e9), not the ~9.2e9 a "BIGINT
# bound" reading suggests. Unit-scale embedding coordinates keep the
# per-(cluster, pos) |sum| <= row count, far below 4.6e9 even at 100 TB
# cluster sizes; switch to a DIV d + (2*(a % d) >= d) form (no doubled
# a) before admitting coordinates outside [-1, 1] at extreme counts.
_A_NANOS = "CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS BIGINT)"
_D_COUNT = "(count(*) * 1000)"
_MEAN6_SPARK = (
    f"CAST(CASE WHEN {_A_NANOS} >= 0 "
    f"THEN (2 * {_A_NANOS} + {_D_COUNT}) DIV (2 * {_D_COUNT}) "
    f"ELSE -((2 * -{_A_NANOS} + {_D_COUNT}) DIV (2 * {_D_COUNT})) END "
    f"AS DOUBLE) / 1000000"
)


def _update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New codebook: decimal-exact per-(cluster, pos) means, rounded 6dp
    through the integer half-away-from-zero formula, collected as k x d
    (tiny) to the driver."""
    rows = (
        assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.expr(_MEAN6_SPARK).alias("m"))
        .groupBy("cluster")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias("cvec"))
        .collect()
    )
    return sorted((r.cluster, list(r.cvec)) for r in rows)


# --- DuckDB oracle: the ITERS Lloyd iterations unrolled as CTEs ---

_DUCK_DIST = (
    "round(list_reduce(list_transform(range(1, 65), "
    "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), (acc, x) -> acc + x), 6)"
)


def _duck_assign(prev_cl: str, out: str) -> str:
    best = (
        "list_aggregate(list_transform(cents, c -> struct_pack("
        f"negd := -{_DUCK_DIST.format(v='v', c='c.cvec')}, negcid := -c.cid)), 'max')"
    )
    return f"""{out} AS (
    SELECT vec_id, v,
           CAST(-(({best}).negcid) AS INT) AS cluster,
           -(({best}).negd) AS dist2
    FROM emb CROSS JOIN {prev_cl}
)"""


# DuckDB twin of _MEAN6_SPARK: identical integer rounding, // for DIV
# (both truncate on the non-negative operands the CASE guarantees).
_DUCK_A = "CAST(sum(CAST(v[CAST(pos + 1 AS INT)] AS DECIMAL(18,9))) * 1000000000 AS BIGINT)"
_DUCK_D = "(count(*) * 1000)"
_MEAN6_DUCK = (
    f"CAST(CASE WHEN {_DUCK_A} >= 0 "
    f"THEN (2 * {_DUCK_A} + {_DUCK_D}) // (2 * {_DUCK_D}) "
    f"ELSE -((2 * -{_DUCK_A} + {_DUCK_D}) // (2 * {_DUCK_D})) END "
    f"AS DOUBLE) / 1000000"
)


def _duck_update(a: str, out_c: str, out_cl: str) -> str:
    return f"""u_{out_c} AS (
    SELECT cluster AS cid, pos,
           {_MEAN6_DUCK} AS m
    FROM {a} CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) p
    GROUP BY cluster, pos
),
{out_c} AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM u_{out_c} GROUP BY cid),
{out_cl} AS (SELECT list(struct_pack(cid := cid, cvec := cvec) ORDER BY cid) AS cents FROM {out_c})"""


def _duck_kmeans_ctes(seed_ids: list[int] | None = None) -> str:
    """The unrolled Lloyd trajectory as a reusable CTE chain; the final
    assignment (vec_id, v, cluster, dist2) is ``a{ITERS+1}``. The
    codebook seeds default to the K=4 kmeans row's; SemDeDup passes its
    own finer seed panel (k scales with the corpus in the paper)."""
    if seed_ids is None:
        seed_ids = SEED_VEC_IDS
    parts = [
        """emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)""",
        f"""c0 AS (
    SELECT vec_id AS cid, list_transform(v, x -> round(x, 6)) AS cvec
    FROM emb WHERE vec_id IN ({", ".join(map(str, seed_ids))})
)""",
        "cl0 AS (SELECT list(struct_pack(cid := cid, cvec := cvec) ORDER BY cid) AS cents FROM c0)",
    ]
    for i in range(ITERS):
        parts.append(_duck_assign(f"cl{i}", f"a{i + 1}"))
        parts.append(_duck_update(f"a{i + 1}", f"c{i + 1}", f"cl{i + 1}"))
    parts.append(_duck_assign(f"cl{ITERS}", f"a{ITERS + 1}"))
    return ",\n".join(parts)


def _duck_kmeans_oracle() -> str:
    return (
        "WITH " + _duck_kmeans_ctes() + f"\nSELECT vec_id, cluster, dist2 FROM a{ITERS + 1}"
    )


# Trained-codebook cache: the Lloyd trajectory is deterministic per
# (sf_dir, data mtime, seed panel), and its output is a k x d MODEL
# ARTIFACT (k*64 doubles) — so train once and reuse, exactly the
# signature-table discipline. Two levels (r12 verdict item 6):
#   L1 — driver-memory dict (immune to clearCache());
#   L2 — a JSON file in a keyed scratch dir, which outlives L1's
#        eviction on a scale switch within the application.
# The round-trip is BIT-EXACT by construction: every centroid value is
# a 6 dp round-half-away integer quotient cast to double, and Python's
# json emits shortest-round-trip reprs — so the cached read equals the
# fresh derivation exactly (asserted in tests/test_kmeans.py), and no
# RECHECK is owed by the consumers: the emitted arithmetic is
# value-identical, not merely hash-verified. The assignment the driver
# hash-checks always recomputes from the codebook either way.
_CODEBOOK_CACHE: dict[tuple, list] = {}

# Code-version component of the codebook scratch key (r13 advice —
# mirrors IVF_INDEX_VERSION): bump whenever the Lloyd arithmetic
# (_assign / _update / the _MEAN6 rounding) changes, or consumers would
# trust a stale pre-change codebook without recheck.
CODEBOOK_VERSION = 1


def _codebook_scratch_path(
    spark: SparkSession, sf_dir: str, seed_ids: list[int]
) -> str:
    """Codebook file in a keyed dir: each application trains once
    (first consumer pays, _CODEBOOK_CACHE and this file amortize the
    rest). Publish stays atomic via os.replace."""
    import os

    from ..scratch import keyed_dir

    path = keyed_dir(
        spark, "codebook", sf_dir, ("embeddings",),
        (CODEBOOK_VERSION, seed_ids, K, ITERS),
    )
    return os.path.join(path, "codebook.json")


def _train_codebook(emb: DataFrame, seed_ids: list[int]) -> list:
    """The uncached Lloyd trajectory (exported for the cache-equality
    pytest)."""
    seeds = emb.where(F.col("vec_id").isin(seed_ids)).collect()
    cents = sorted(
        (seed_ids.index(r.vec_id) + 1, [round(x, 6) for x in r.v]) for r in seeds
    )
    for _ in range(ITERS):
        cents = _update(_assign(emb, cents))
    return cents


def _trained_codebook(
    spark: SparkSession,
    emb: DataFrame,
    sf_dir: str,
    seed_ids: list[int] | None = None,
) -> list:
    import json
    import os

    if seed_ids is None:
        seed_ids = SEED_VEC_IDS
    mtime = os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    key = (os.path.abspath(sf_dir), mtime, tuple(seed_ids))
    cached = _CODEBOOK_CACHE.get(key)
    if cached is not None:
        return cached
    for k in [k for k in _CODEBOOK_CACHE if k[:2] != key[:2]]:
        del _CODEBOOK_CACHE[k]  # one live sf per seed panel
    path = _codebook_scratch_path(spark, sf_dir, list(seed_ids))
    try:
        with open(path) as fh:
            cents = [(int(cid), [float(x) for x in vec]) for cid, vec in json.load(fh)]
        # keep the actively-read artifact inside gc_scratch's age gate
        # (r13 advice): reads don't bump mtime on their own, so a fresh
        # process could otherwise reap a codebook a live one still uses
        from ..scratch import _touch_live

        _touch_live(path)
    except (OSError, ValueError):
        with share_scope(spark, sf_dir, "embeddings"):  # one job per Lloyd step
            cents = _train_codebook(emb, list(seed_ids))
        tmp = f"{path}.tmp.{os.getpid()}"
        try:
            with open(tmp, "w") as fh:
                json.dump(cents, fh)
            os.replace(tmp, path)  # atomic publish: no partial reads
        except OSError:
            pass
    _CODEBOOK_CACHE[key] = cents
    return cents


@query("kmeans_clusters", oracle=_duck_kmeans_oracle())
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=4 Lloyd iterations (ITERS=3) from pinned seed vectors; returns
    (vec_id, cluster, dist2) for every embedding. Hash-checked against
    the unrolled-CTE DuckDB twin; exact-assignment parity vs a mirrored
    numpy reference in tests. The trained codebook is cached per
    (app, sf, data mtime) — train once, assign many — while the
    hash-checked assignment always recomputes."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb.persist()  # scanned once per iteration + final assignment
    cents = _trained_codebook(spark, emb, sf_dir)
    return _assign(emb, cents).select("vec_id", "cluster", "dist2")


# --- SemDeDup: semantic dedup via cluster-then-prune ------------------------
# Abbas et al. 2023 (SemDeDup): k-means the embedding space, then look
# for near-identical vectors ONLY within a cluster — the pair space
# shrinks from O(n^2) to sum over clusters of |c|^2, and k scales with
# the corpus to bound |c|. The keep rule is deterministic: within a
# cluster, a vector is pruned iff a LOWER-id vector lies within the
# cosine threshold (keep-first, the same canonical-pick convention as
# the text dedup family). The threshold sits at the far tail of the
# within-cluster cosine distribution of this corpus (p999 ~ 0.39, max
# ~ 0.60 at sf0.1; 0.45 prunes ~2% of vectors) so both verdicts are non-trivially populated; real
# deployments use ~0.95+ against genuinely duplicated web text.
#
# SemDeDup's codebook is FINER than the kmeans row's K=4 — the paper
# scales k with the corpus precisely to bound the within-cluster |c|^2
# pair space; 16 seeds cut the blocked pair count ~4x at sf0.1
# (headline 4.3 s -> ~1.5 s) while the kmeans row keeps its own pinned
# K=4 trajectory. Seeds stay CONSECUTIVE FROM 1 so the Spark side's
# index+1 cid equals the oracle c0's vec_id cid.
SEMDEDUP_SEED_IDS = list(range(1, 17))
SEMDEDUP_COS_T = "0.45"

# dot / (|x| * |y|) with the norms computed ONCE per vector (attached
# in `fin`), not per pair — same IEEE value and order as the inline
# form, ~3x less lambda work across the |c|^2 pair space
_PAIR_COS_SPARK = (
    "round(aggregate(zip_with(x_v, y_v, (a, b) -> a * b), 0D,"
    " (acc, p) -> acc + p) / (x_n * y_n), 6)"
)

_SEMDEDUP_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes(SEMDEDUP_SEED_IDS)
    + f""",
fin AS (SELECT vec_id, v, cluster FROM a{ITERS + 1}),
pruned AS (
    SELECT DISTINCT x.vec_id
    FROM fin x JOIN fin y
      ON x.cluster = y.cluster AND y.vec_id < x.vec_id
    WHERE round(CAST(list_cosine_similarity(x.v, y.v) AS DOUBLE), 6)
          >= {SEMDEDUP_COS_T}
)
SELECT f.vec_id, CAST(f.cluster AS INT) AS cluster,
       (p.vec_id IS NOT NULL) AS is_pruned
FROM fin f LEFT JOIN pruned p ON p.vec_id = f.vec_id
"""
)


@query("semdedup_cluster_prune", oracle=_SEMDEDUP_ORACLE)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication: run the pinned Lloyd trajectory
    to cluster the embedding space, then prune near-identical vectors
    WITHIN clusters only — per cluster, drop any vector whose cosine to
    a lower-id cluster-mate reaches SEMDEDUP_COS_T (keep-first). Emits
    every vector with its cluster and prune verdict, so the hash pins
    both the clustering trajectory and the prune decision.

    This is the embedding-space analog of corpus_dedup_canonical's
    find->verify->decide: k-means plays the LSH-band role (blocking),
    within-cluster cosine the exact-verify role. Unlike
    dedup_embedding_blocked (sign-bucket blocking, recall bounded by
    bucket collisions of near-dups), cluster blocking follows the
    learned density of the space — the reason SemDeDup scales to
    web-corpus dedup.

    Plan/scale: assignment, norms and the clustered layout are read
    from the cell-partitioned IVF index (r14 — the r13 verdict's watch
    item: the row was re-assigning the corpus and localCheckpoint-ing
    it per run; the index stores the exact same _assign trajectory and
    the exact same sqrt(aggregate(v*v)) expression, so every emitted
    value is IEEE-identical); the prune self-join shuffles on the
    cluster key and is sum(|c|^2) bounded — k grows with the corpus to
    cap |c| (the paper uses k ~ sqrt(n)); the verdict join is a
    broadcast of the (small) pruned set. Cosine rounds to 6 dp through
    one expression per engine, so the threshold compare is stable. At
    10^9 vectors this is the natural coupling anyway: SemDeDup prunes
    WITHIN cells of the same index the ANN layer serves, one
    maintained clustered layout feeding both."""
    from .similarity import _ivf_cell_index_path, read_ivf_index

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, sf_dir, SEMDEDUP_SEED_IDS)
    fin = read_ivf_index(spark, _ivf_cell_index_path(spark, sf_dir, cents)).select(
        "vec_id", "v", F.col("cell").alias("cluster"), "nrm"
    )
    x = fin.select(
        F.col("vec_id").alias("x_id"),
        F.col("v").alias("x_v"),
        F.col("nrm").alias("x_n"),
        "cluster",
    )
    y = fin.select(
        F.col("vec_id").alias("y_id"),
        F.col("v").alias("y_v"),
        F.col("nrm").alias("y_n"),
        "cluster",
    )
    pruned = (
        x.join(y, "cluster")
        .where(F.col("y_id") < F.col("x_id"))
        .where(F.expr(_PAIR_COS_SPARK) >= F.expr(SEMDEDUP_COS_T))
        .select(F.col("x_id").alias("vec_id"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        fin.join(F.broadcast(pruned), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce("_hit", F.lit(False)).alias("is_pruned"),
        )
    )


# Incremental SemDeDup: the append-only daily path. vec_id % mod == 0
# plays the newly-arrived batch; the rest is the standing corpus whose
# cluster assignments are the maintained index (exactly the
# dedup_incremental_delta convention for the text family). The delta
# probe carries its own threshold, below the prune row's: delta-corpus
# cosines top out lower than the global within-cluster tail on this
# corpus (max 0.43 at sf0.001 / 0.50 at sf0.1), and a threshold with
# zero matches at oracle scale would make the hash check vacuous.
SEMDEDUP_DELTA_MOD = 10
SEMDEDUP_DELTA_COS_T = "0.40"

_SEMDEDUP_DELTA_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes(SEMDEDUP_SEED_IDS)
    + f""",
fin AS (SELECT vec_id, v, cluster FROM a{ITERS + 1})
SELECT d.vec_id AS delta_vec, c.vec_id AS corpus_vec,
       CAST(d.cluster AS INT) AS cluster,
       round(CAST(list_cosine_similarity(d.v, c.v) AS DOUBLE), 6) AS cosine
FROM fin d JOIN fin c
  ON d.cluster = c.cluster
WHERE d.vec_id % {SEMDEDUP_DELTA_MOD} = 0
  AND c.vec_id % {SEMDEDUP_DELTA_MOD} != 0
  AND round(CAST(list_cosine_similarity(d.v, c.v) AS DOUBLE), 6)
      >= {SEMDEDUP_DELTA_COS_T}
"""
)


@query("semdedup_incremental_delta", oracle=_SEMDEDUP_DELTA_ORACLE)
def semdedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — which newly-arrived vectors semantically
    duplicate the standing corpus? The embedding-family twin of
    dedup_incremental_delta: assign the delta batch to the maintained
    codebook's clusters, then probe ONLY the standing corpus vectors of
    the same cluster — work is O(|delta| * |cluster|), never O(n^2) or
    even O(corpus), and the decision lands before the batch commits.
    Emits the qualifying (delta, corpus) matches with their cluster and
    cosine.

    The codebook is the full-corpus trajectory here (and cached per
    (app, sf, mtime) — train once, assign many); a production pipeline
    retrains it on a schedule, not per batch — assignment against a
    slightly-stale codebook is the standard serving approximation and
    does not affect this row's verification, since the oracle uses the
    same codebook.

    Plan/scale: the delta side is batch-sized and BROADCAST onto the
    cluster-keyed corpus probe (zero corpus shuffle); per-vector norms
    precomputed; cosine rounds to 6 dp through one expression per
    engine."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb.persist()
    cents = _trained_codebook(spark, emb, sf_dir, SEMDEDUP_SEED_IDS)
    fin = _assign(emb, cents).select(
        "vec_id",
        "v",
        "cluster",
        F.expr("sqrt(aggregate(v, 0D, (acc, a) -> acc + a * a))").alias("nrm"),
    )
    delta = fin.where(F.col("vec_id") % SEMDEDUP_DELTA_MOD == 0).select(
        F.col("vec_id").alias("delta_vec"),
        F.col("v").alias("x_v"),
        F.col("nrm").alias("x_n"),
        "cluster",
    )
    corpus = fin.where(F.col("vec_id") % SEMDEDUP_DELTA_MOD != 0).select(
        F.col("vec_id").alias("corpus_vec"),
        F.col("v").alias("y_v"),
        F.col("nrm").alias("y_n"),
        "cluster",
    )
    return (
        F.broadcast(delta)
        .join(corpus, "cluster")
        .withColumn("cosine", F.expr(_PAIR_COS_SPARK))
        .where(F.col("cosine") >= F.expr(SEMDEDUP_DELTA_COS_T))
        .select("delta_vec", "corpus_vec", F.col("cluster").cast("int"), "cosine")
    )


# --- cluster-balanced resampling (topic balancing over the codebook) --------
# The embedding-space twin of token_mixture_weights: web-scale corpora
# are topically skewed, so curation pipelines re-weight k-means clusters
# toward equal mass before sampling (the cluster-balancing step in
# DoReMi-style mixture tuning and in SemDeDup's own evaluation setup).
# Downsample-only form: every cluster's keep-rate caps at 1.0 — a filter
# pass never duplicates rows; upsampling is the dataloader's epoch
# factor, not the engine's.
BALANCE_SCALE_PPM = 1_000_000

from ..functions import hashing as _H  # noqa: E402  (section-local import)

_BALANCE_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes()
    + f""",
fin AS (SELECT vec_id, cluster FROM a{ITERS + 1}),
sz AS (SELECT cluster, count(*) AS n_vecs FROM fin GROUP BY cluster),
tot AS (SELECT sum(n_vecs) AS total FROM sz),
w AS (
    SELECT sz.cluster, sz.n_vecs,
           least({BALANCE_SCALE_PPM},
                 (tot.total // {K}) * {BALANCE_SCALE_PPM} // sz.n_vecs)
               AS weight_ppm
    FROM sz, tot
)
SELECT w.cluster, CAST(w.n_vecs AS BIGINT) AS n_vecs,
       CAST(w.weight_ppm AS BIGINT) AS weight_ppm,
       CAST(sum(CASE WHEN {_H.duck_hash32("CAST(vec_id AS VARCHAR)")} % {BALANCE_SCALE_PPM} < w.weight_ppm
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM w JOIN fin ON fin.cluster = w.cluster
GROUP BY w.cluster, w.n_vecs, w.weight_ppm
"""
)


@query("cluster_balanced_sample", oracle=_BALANCE_ORACLE)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced downsampling over the trained codebook: assign
    every embedding to its k-means cluster (the cached pinned Lloyd
    trajectory), compute per-cluster keep-rates that level cluster mass
    at the uniform target total/k (capped at 1.0 — downsample-only, in
    exact integer ppm), then KEEP each vector iff its content hash
    lands under its cluster's rate — the deterministic coin-flip every
    sampling op in this repo uses (dataset_split_assign's md5 scheme),
    so the sample is reproducible across engines, retries, and
    partitionings. Emits per-cluster (size, keep-rate, kept-count), so
    the hash pins the trajectory, the weight arithmetic, AND every
    individual keep decision's aggregate.

    Plan/scale: assignment is the broadcast-codebook argmin (no
    shuffle); cluster sizes aggregate to k rows, the k-row weight table
    broadcasts back onto the assignment stream, and the keep gate is a
    codegen hash-compare — one scan, one k-row shuffle, one broadcast
    join. The 100 TB shape is exactly this: no per-vector state leaves
    the executors."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, sf_dir)
    fin = _assign(emb, cents).select("vec_id", "cluster")
    sz = fin.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = sz.agg(F.sum("n_vecs").alias("total"))
    w = sz.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "n_vecs",
        F.expr(
            f"least({BALANCE_SCALE_PPM},"
            f" (total div {K}) * {BALANCE_SCALE_PPM} div n_vecs)"
        ).alias("weight_ppm"),
    )
    gate = F.expr(
        f"({_H.spark_hash32('CAST(vec_id AS STRING)')})"
        f" % {BALANCE_SCALE_PPM} < weight_ppm"
    )
    return (
        fin.join(F.broadcast(w), "cluster")
        .groupBy("cluster", "n_vecs", "weight_ppm")
        .agg(
            F.sum(F.when(gate, 1).otherwise(0)).cast("bigint").alias("n_kept")
        )
        .select(
            "cluster",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.col("weight_ppm").cast("bigint").alias("weight_ppm"),
            "n_kept",
        )
    )


# --- SemDeDup threshold sweep (round 12) --------------------------------------
# The tuning curve behind semdedup_cluster_prune's single operating
# point — prune volume at a grid of cosine thresholds — the embedding-
# family twin of dedup_lsh_band_sweep's (bands x rows) sweep: every
# threshold change at 100 TB is justified by this table, computed in
# ONE pass over the same within-cluster pair space (the pair join is
# paid once; the grid is a codegen fan-out over it).
SEMDEDUP_SWEEP_T_PPM = [350_000, 400_000, 450_000, 500_000]

_SEMDEDUP_SWEEP_ORACLE = (
    "WITH "
    + _duck_kmeans_ctes(SEMDEDUP_SEED_IDS)
    + f""",
fin AS (SELECT vec_id, v, cluster FROM a{ITERS + 1}),
tot AS (SELECT count(*) AS n FROM fin),
pairs AS (
    SELECT x.vec_id,
           CAST(round(round(CAST(list_cosine_similarity(x.v, y.v) AS DOUBLE), 6)
                * 1000000, 0) AS BIGINT) AS cos_ppm
    FROM fin x JOIN fin y
      ON x.cluster = y.cluster AND y.vec_id < x.vec_id
),
grid AS (SELECT unnest([{", ".join(map(str, SEMDEDUP_SWEEP_T_PPM))}]) AS t_ppm),
pruned AS (
    SELECT g.t_ppm, count(DISTINCT p.vec_id) AS n_pruned
    FROM grid g LEFT JOIN pairs p ON p.cos_ppm >= g.t_ppm
    GROUP BY g.t_ppm
)
SELECT pr.t_ppm AS threshold_ppm,
       CAST(pr.n_pruned AS BIGINT) AS n_pruned,
       CAST(pr.n_pruned * 1000000 // tot.n AS BIGINT) AS prune_rate_ppm
FROM pruned pr, tot
"""
)


@query("semdedup_threshold_sweep", oracle=_SEMDEDUP_SWEEP_ORACLE)
def semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup THRESHOLD SWEEP: how many vectors would the
    within-cluster keep-first prune remove at each cosine threshold of
    a fixed grid — the tuning table that justifies the prune row's
    operating point (Abbas et al. tune exactly this: prune fraction vs
    threshold), computed like dedup_lsh_band_sweep tunes (bands x
    rows) for the text family. The hash pins the clustering
    trajectory, the pair cosines, AND the grid arithmetic at once.

    Determinism: pair cosines round to 6 dp and convert to integer ppm
    BEFORE the threshold compare, so the grid gate is pure integer.

    Plan/scale: the |c|^2-bounded pair space (the prune row's cost) is
    paid ONCE; the 4-point grid joins against it as a broadcast
    fan-out, and the distinct-victim count per threshold shuffles
    threshold-bounded groups. The curve costs one sweep regardless of
    grid size — never one clustering per candidate threshold."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb.persist()
    cents = _trained_codebook(spark, emb, sf_dir, SEMDEDUP_SEED_IDS)
    fin = share(
        _assign(emb, cents).select(
            "vec_id",
            "v",
            "cluster",
            F.expr("sqrt(aggregate(v, 0D, (acc, a) -> acc + a * a))").alias("nrm"),
        ),
        sf_dir,
        "embeddings",
    )
    x = fin.select(
        F.col("vec_id").alias("x_id"), F.col("v").alias("x_v"),
        F.col("nrm").alias("x_n"), "cluster",
    )
    y = fin.select(
        F.col("vec_id").alias("y_id"), F.col("v").alias("y_v"),
        F.col("nrm").alias("y_n"), "cluster",
    )
    grid_lit = ", ".join(map(str, SEMDEDUP_SWEEP_T_PPM))
    # the grid fans out INSIDE codegen (filter over a literal array per
    # pair), never as a join: an inequality join against the pair space
    # planned a nested-loop that broadcast the whole pair table (9.7 s
    # steady at sf0.1 — the broadcast hint can't apply to the preserved
    # side of a left join); this form pays one pass over the pairs
    # (~2 s) and a |grid|-group aggregate
    hits = (
        x.join(y, "cluster")
        .where(F.col("y_id") < F.col("x_id"))
        .select(
            F.col("x_id").alias("vec_id"),
            # nearest-int ppm, not a bare CAST: the 6 dp double x 1e6
            # can sit one ulp BELOW its integer and truncate low —
            # round(x, 0) is engine-stable here (a 6 dp value x 1e6 is
            # never half-way), and keeps cos_ppm >= t exactly aligned
            # with the prune row's round(cos, 6) >= T gate
            F.expr(
                f"CAST(round({_PAIR_COS_SPARK} * 1000000, 0) AS BIGINT)"
            ).alias("cos_ppm"),
        )
        .select(
            "vec_id",
            F.explode(
                F.expr(f"filter(array({grid_lit}), t -> cos_ppm >= t)")
            ).alias("t_ppm"),
        )
        .groupBy("t_ppm")
        .agg(F.countDistinct("vec_id").alias("n_hit"))
    )
    grid = spark.createDataFrame(
        [(t,) for t in SEMDEDUP_SWEEP_T_PPM], "t_ppm bigint"
    )
    tot = fin.agg(F.count(F.lit(1)).alias("n"))
    return (
        grid.join(F.broadcast(hits), "t_ppm", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t_ppm").alias("threshold_ppm"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_pruned"),
            F.expr(
                "CAST(coalesce(n_hit, 0) * 1000000 DIV n AS BIGINT)"
            ).alias("prune_rate_ppm"),
        )
    )
