"""Exact parity for distributed connected components vs a local
union-find over the same verified near-dup pairs."""

from __future__ import annotations

import pytest

from dend_covid19_spark.operators.components import dedup_components
from dend_covid19_spark.operators.dedup import dedup_ngram_jaccard
from tests.conftest import SF_DIR


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical component id = min member, which min-root union preserves
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, SF_DIR).select("doc_a", "doc_b").collect()
    ]
    assert pairs, "fixture should contain verified near-dup pairs"
    want = _union_find(pairs)
    got = {
        r.doc_id: r.component for r in dedup_components(spark, SF_DIR).collect()
    }
    assert got == want
    canon = {
        r.doc_id for r in dedup_components(spark, SF_DIR).collect() if r.is_canonical
    }
    assert canon == set(want.values())


def test_prefix_filter_superset_of_lsh(spark):
    """Recall relationship the two candidate generators promise: prefix
    filtering is exhaustive for J >= tau (theorem), LSH banding is
    probabilistic — so every LSH-found verified pair must also be in the
    prefix-filter result, never the reverse."""
    from dend_covid19_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_prefix_filter_join,
    )
    from tests.conftest import SF_DIR

    lsh = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    pf = {
        (r.doc_a, r.doc_b)
        for r in dedup_prefix_filter_join(spark, SF_DIR).collect()
    }
    assert lsh <= pf, f"LSH found pairs the exact join missed: {lsh - pf}"
    assert pf, "prefix filter returned no pairs"


def test_prefix_filter_candidates_pruned(spark):
    """The prefix filter's scale claim: candidate pairs must be a small
    fraction of all doc pairs (measured ~0.9% at sf0.001) — rare-shingle
    prefixes, not an all-pairs sweep with a fancy name. Mirrors
    test_embedding_blocked_subquadratic for the exact-join path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.dedup import _minhash_sigs, _prefix_len_expr
    from tests.conftest import SF_DIR

    sigs = _minhash_sigs(spark, SF_DIR).select("doc_id", "shingles")
    n = sigs.count()
    ex = sigs.select(
        "doc_id", F.explode("shingles").alias("s"), F.size("shingles").alias("n")
    )
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = ex.join(dfreq, "s").select(
        "doc_id", "s", "n", F.row_number().over(w).alias("rn")
    )
    prefix = ranked.where(F.expr(f"rn <= {_prefix_len_expr('n')}")).select(
        "doc_id", "s"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    ratio = cand / (n * (n - 1) / 2)
    assert ratio < 0.05, f"prefix filtering degenerated: candidate ratio {ratio:.4f}"


def test_incremental_delta_is_has_new_subset_of_full_lsh(spark):
    """The incremental path must equal the batch recompute restricted to
    pairs with at least one delta-side doc — the merge(delta) ==
    recompute identity — and its delta band probe must broadcast."""
    from dend_covid19_spark.operators.dedup import (
        DELTA_MOD,
        dedup_incremental_delta,
        dedup_minhash_lsh,
    )
    from tests.conftest import SF_DIR

    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    expect = {
        p: e
        for p, e in full.items()
        if p[0] % DELTA_MOD == 0 or p[1] % DELTA_MOD == 0
    }
    delta = dedup_incremental_delta(spark, SF_DIR)
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in delta.collect()}
    assert got == expect
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the delta probe side broadcasts


@pytest.mark.parametrize(
    ("schema", "bad"),
    [("src string, dst string", "src"), ("src bigint, dst string", "dst")],
)
def test_cc_rejects_non_integral_ids(spark, schema, bad):
    """String ids would break the decimal label-sum fixpoint test
    mid-loop (ANSI on) or end the loop early with null sums (ANSI off).
    connected_components must refuse them up front, naming the column,
    from the schema alone — before any job is scheduled."""
    from dend_covid19_spark.operators.components import connected_components

    rows = [("1", "2"), ("2", "3")] if bad == "src" else [(1, "2"), (2, "3")]
    edges = spark.createDataFrame(rows, schema)
    sc = spark.sparkContext
    sc.setJobGroup("cc_id_type_check", "connected_components id check")
    try:
        with pytest.raises(TypeError, match=f"'{bad}'"):
            connected_components(edges, sf_dir=SF_DIR, table="documents")
        assert not sc.statusTracker().getJobIdsForGroup("cc_id_type_check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
