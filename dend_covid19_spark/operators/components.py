"""Connected components over near-dup pairs — the stage that turns
pairwise dedup verdicts into dedup *decisions*.

find (LSH bands) -> verify (exact Jaccard) gives pairs; but keep/drop
needs clusters: if A~B and B~C, {A,B,C} is one duplicate group even when
A~C was never tested. Min-label propagation computes components with
joins only:

  label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint (checked by the driver as a changed-row count — an
O(1) aggregate per round, never data collection). Labels start as doc_id,
so the component id is the smallest doc_id it contains — which doubles as
the canonical-document pick.

Scale: each iteration is one join edges⋈labels + one min-aggregate —
shuffle-bound on |edges|; rounds needed = graph diameter (near-dup
graphs are shallow — dup groups are cliques-ish, so 2-4 rounds).
The rounds run through ``catalog.propagate``, the graph family's one
loop. This is the standard large-graph CC shape (GraphX/GraphFrames use
the same alternating join under the hood).

The Spark side iterates to a fixpoint, but the RESULT is still
SQL-expressible: DuckDB's WITH RECURSIVE computes the same min-reachable
label as a transitive closure (fine at oracle scale; the closure is
O(n*m) which is exactly why the distributed side iterates instead), so
the driver gets a full value-hash check — plus exact union-find parity
in tests/test_components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import GRAPH_BROADCAST_MAX_NODES, load_table, propagate, share, share_scope
from ..functions.dedup_sql import duck_components_ctes
from ..plans.registry import query

MAX_ROUNDS = 10  # backstop; near-dup graphs converge in 2-4


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    sf_dir: str,
    table: str,
) -> DataFrame:
    """(src, dst) undirected edges -> (node, component) with component =
    min node id reachable. Iterates to exact fixpoint. ``table`` in
    ``sf_dir`` is the source the edges derive from; it sizes the
    rounds' cuts (``catalog.share``).

    r18 round shape (A/B-measured 30 -> 22 scheduled jobs on the
    entity-resolution graph, digest-equal): the symmetric edge table
    carries a SELF-LOOP per node, so one join + one min-aggregate per
    round computes min(label(u) : u in N(v) + {v}) directly — no second
    join, no least/coalesce left-join (pre-r18 each round planned two
    broadcast builds plus a changed-count action). Round 0 under
    identity labels needs no label join at all: it is just
    groupBy(a).min(b) over the self-looped edges, so the loop starts
    one propagation ahead for free. The fixpoint check rides the label
    sum: labels are monotone non-increasing per node (the self-loop
    keeps the old label in every min), so an unchanged decimal sum is
    exactly "no node changed" — one O(1) aggregate per round, half the
    actions of the changed-count form.

    Rounds run through ``catalog.propagate``, keyed on ``b``. The gate
    is this loop's own: the round-0 aggregate's node count, read in the
    same job as its label sum.

    Ids must be integral: the fixpoint test sums labels as decimals, and
    a string id would fail mid-loop under ANSI mode or, with ANSI off,
    turn the sums null and stop the loop early. Other types raise
    TypeError here, read off the schema before any job runs."""
    for col in (src, dst):
        dtype = edges.schema[col].dataType
        if not isinstance(dtype, T.IntegralType):
            raise TypeError(
                f"connected_components: id column {col!r} is "
                f"{dtype.simpleString()}; integral ids are required"
            )
    sym = edges.selectExpr(f"{src} AS a", f"{dst} AS b").unionByName(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    )
    sym = sym.distinct()
    nodes = sym.select(F.col("a").alias("node")).distinct()
    sym = sym.unionByName(
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
    )
    with share_scope(edges.sparkSession, sf_dir, table):
        # round 0: min over N(v) + {v} of the identity labels is min(b)
        labels = share(
            sym.groupBy("a")
            .agg(F.min("b").alias("component"))
            .withColumnRenamed("a", "node"),
            sf_dir,
            table,
        )
        init = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
    label_sum = init["s"]

    def step(sym: DataFrame, labels: DataFrame, attach) -> DataFrame:
        rhs = attach(labels)
        return (
            sym.join(rhs, sym.b == rhs.node)
            .groupBy("a")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("a", "node")
        )

    def unchanged(labels: DataFrame) -> bool:
        nonlocal label_sum
        prev, label_sum = label_sum, labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]  # O(1) driver scalar
        return label_sum == prev

    return propagate(
        sym,
        "b",
        labels,
        step,
        small=init["n"] <= GRAPH_BROADCAST_MAX_NODES,
        rounds=MAX_ROUNDS,
        sf_dir=sf_dir,
        table=table,
        converged=unchanged,
    )


# The oracle rebuilds the verified near-dup pairs (the dedup_ngram_jaccard
# twin), symmetrizes them, and takes the transitive closure — the shared
# CTEs live in functions/dedup_sql.py (pure SQL builders, no registry
# import) so plans/llm_pipeline.py composes them too without a cycle.
_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {duck_components_ctes()}
SELECT node AS doc_id,
       min(r) AS component,
       (node = min(r)) AS is_canonical
FROM reach
GROUP BY node
"""


def _dedup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) labels over the verified near-dup pairs,
    materialized once to keyed parquet scratch — the same write-once
    discipline as dedup._minhash_sigs. Five
    registered rows consume the labels (components, cluster histogram,
    dup rate, corpus canonical apply, decontamination grouping); before
    r11 each re-ran the full LSH -> verify -> iterative label
    propagation per call (~2.9 s/run at sf0.1, all driver-round
    overhead at demo scale). The label table is the production shape
    anyway: a dedup pipeline materializes its group assignment once per
    corpus snapshot and every downstream decision reads it."""
    import os

    from ..scratch import keyed_dir, materialize_once

    def _write(tmp: str) -> None:
        from .dedup import dedup_ngram_jaccard  # deferred: avoids import cycle

        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        connected_components(
            pairs, "doc_a", "doc_b", sf_dir=sf_dir, table="documents"
        ).write.parquet(tmp)

    scratch = keyed_dir(spark, "cclabel", sf_dir, ("documents",))
    return spark.read.parquet(materialize_once(os.path.join(scratch, "labels"), _write))


@query("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups from the verified near-dup pairs
    (dedup_ngram_jaccard): (doc_id, component, is_canonical) where
    component = the group's smallest doc_id and the canonical doc is that
    minimum — the row a dedup pipeline keeps. Docs with no verified dup
    partner don't appear (they are trivially their own group)."""
    cc = _dedup_labels(spark, sf_dir)
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


_CLUSTER_HIST_ORACLE = f"""
WITH RECURSIVE {duck_components_ctes()},
labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, count(*) AS cluster_size FROM labels GROUP BY component)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
FROM sizes
GROUP BY cluster_size
"""


@query("dedup_cluster_size_histogram", oracle=_CLUSTER_HIST_ORACLE)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: for each near-dup group size,
    how many groups exist, how many documents they hold, and how many a
    keep-one-per-group policy would delete — the dedup IMPACT report a
    corpus owner reads before committing the purge (is duplication a few
    giant boilerplate clusters or a long tail of pairs?).

    Plan/scale: two key-cardinality aggregates stacked on the
    dedup_components output (labels -> per-component size -> per-size
    count); both partial-agg map-side and the second one's input is
    already component-cardinality. The histogram itself is at most
    |distinct sizes| rows. Cost is dominated by the shared upstream
    LSH + verify + label-propagation stages, unchanged."""
    labels = dedup_components(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


_DUP_RATE_ORACLE = f"""
WITH RECURSIVE {duck_components_ctes()},
labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
dup AS (SELECT node AS doc_id FROM labels WHERE node <> component),
per_src AS (
    SELECT d.source,
           count(*) AS n_docs,
           count(dup.doc_id) AS n_redundant
    FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
    GROUP BY d.source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_redundant AS BIGINT) AS n_redundant,
       CAST(n_redundant * 1000000 // n_docs AS BIGINT) AS dup_ppm
FROM per_src
"""


@query("dedup_rate_by_source", oracle=_DUP_RATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate rate per ingestion source: of each source's
    documents, how many would a keep-the-canonical policy drop (they
    belong to a dup group but are not its canonical member) — the
    per-feed scorecard that tells a corpus owner WHICH crawler or
    vendor ships redundant data, which is the actionable form of the
    global dedup numbers (cluster histogram says how much; this says
    where from).

    Plan/scale: reuses the dedup_components labels (LSH -> verify ->
    label propagation, all blocked); the redundant set is
    dup-group-membership minus canonicals, joined back to the documents
    dimension row (broadcast-sized key list at driver scales; at 100 TB
    both sides hash-partition on doc_id) and rolled up to |sources|
    rows with ppm rates in integer arithmetic."""
    labels = dedup_components(spark, sf_dir)
    dup = labels.where(~F.col("is_canonical")).select("doc_id")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    flagged = docs.join(
        dup.withColumn("is_dup", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_redundant"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_redundant").cast("bigint").alias("n_redundant"),
            F.expr("CAST(n_redundant * 1000000 DIV n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
    )
