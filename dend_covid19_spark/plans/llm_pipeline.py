"""Training-data pipeline operators (north-star extension): chunking,
deterministic dataset splits, denylist scrubbing, stratified sampling.

These are the corpus-preparation passes an LLM data pipeline runs after
hygiene (textops.py) and dedup (operators/dedup.py): cut documents into
overlapping context-window chunks, assign reproducible train/val/test
splits, mask denylisted spans (the PII-redaction shape), and draw
deterministic per-stratum samples. All pure column expressions — no
Python in the hot path, no driver-side materialization, and every
randomness source is a content hash (md5) so results are identical
across engines, retries, and partitionings.

Reference scope note: the reference's text handling is a filter + NLP
annotate + count (tasks/tweets.py:50-62); these ops are the driver's
north-star extension (BASELINE.json), not reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, share, share_if_bounded
from ..functions import hashing as H
from ..functions.dedup_sql import duck_components_ctes
from . import textops as _textops
from .registry import query

CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@query(
    "doc_chunking",
    oracle=f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text), 1), {CHUNK_STRIDE})) AS start
    FROM documents
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       substr(text, start, {CHUNK_SIZE}) AS chunk_text,
       CAST(length(substr(text, start, {CHUNK_SIZE})) AS INT) AS chunk_len
FROM starts
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking: cut each document into
    CHUNK_SIZE-char pieces every CHUNK_STRIDE chars (50-char overlap) —
    the standard pre-embedding / context-window packing step. The start
    offsets come from ``sequence``, so chunking is a generator expression
    (explode), not a UDF, and the final ragged chunk is kept.

    Scale: explode fans each doc out to ceil(len/stride) rows with no
    shuffle at all — chunking is map-side; downstream ops decide their
    own partitioning. Chunk counts scale with document length, so skew
    follows the corpus's length distribution (bound it upstream by
    splitting giant docs at ingest).
    """
    docs = load_table(spark, "documents", sf_dir)
    starts = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.expr(f"sequence(1, greatest(length(text), 1), {CHUNK_STRIDE})")
        ).alias("start"),
    )
    chunk = F.expr(f"substring(text, start, {CHUNK_SIZE})")
    return starts.select(
        "doc_id",
        F.expr(f"CAST((start - 1) div {CHUNK_STRIDE} AS INT)").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


@query(
    "dataset_split_assign",
    oracle="""
SELECT doc_id,
       CASE WHEN substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                 THEN 'train'
            WHEN substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash: bucket
    on the first md5 byte of a salted key ('doc-' || id), thresholds at
    0xcc (~80%) and 0xe6 (~90%). Hash-based splits are the only kind
    that survive re-runs, backfills, and engine changes — ``rand()``
    splits silently reshuffle examples between train and test.

    Scale: pure map-side projection (no shuffle, no state); the split
    is a function of the row alone, so it distributes trivially and the
    same row always lands in the same split on any cluster.
    """
    docs = load_table(spark, "documents", sf_dir)
    first_byte = F.expr("substring(md5(concat('doc-', CAST(doc_id AS STRING))), 1, 2)")
    return docs.select(
        "doc_id",
        F.when(first_byte < "cc", "train")
        .when(first_byte < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "text_scrub_denylist",
    oracle=r"""
SELECT doc_id,
       regexp_replace(text, '\b(spark|customer)\b', '<MASK>', 'g') AS scrubbed,
       CAST(length(text) - length(regexp_replace(text, '\b(spark|customer)\b', '', 'g'))
            AS BIGINT) AS masked_chars
FROM documents
""",
)
def text_scrub_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist span masking — the PII-redaction shape: replace every
    word-boundary-delimited denylisted token with a mask marker and
    report how many characters were dropped. In production the pattern
    is emails/phones/SSNs; the corpus here has no digits, so a token
    denylist exercises the identical regexp_replace plan.

    Scale: regexp_replace is a codegen'd JVM expression evaluated
    per-row at the scan — no shuffle, no UDF. Pattern complexity is the
    only cost knob; anchored alternations like this stay linear.
    """
    docs = load_table(spark, "documents", sf_dir)
    pat = r"\b(spark|customer)\b"
    return docs.select(
        "doc_id",
        F.regexp_replace("text", pat, "<MASK>").alias("scrubbed"),
        (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("bigint").alias("masked_chars"),
    )


_CORPUS_DEDUP_ORACLE = f"""
WITH RECURSIVE {duck_components_ctes()},
noncanon AS (
    SELECT node FROM reach GROUP BY node HAVING node <> min(r)
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM noncanon)
"""


@query("corpus_dedup_canonical", oracle=_CORPUS_DEDUP_ORACLE)
def corpus_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied to the corpus — the full near-dup
    pipeline composed end to end: MinHash/LSH candidates -> exact-Jaccard
    verify (operators/dedup.py) -> connected components
    (operators/components.py) -> drop every non-canonical group member,
    keep the rest of the corpus untouched. This is the pass that actually
    shrinks a 100 TB crawl before training.

    Scale: the pairs/components stages are the blocked shapes already
    pinned sub-quadratic; the final apply is one left_anti hash join of
    documents against the (tiny) non-canonical id set — AQE broadcasts
    it, so the corpus never shuffles.
    """
    from ..operators.components import dedup_components

    docs = load_table(spark, "documents", sf_dir)
    noncanon = (
        dedup_components(spark, sf_dir)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return docs.join(noncanon, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# Per-language mixture rates: first md5 byte of a salted key under the
# hex threshold. en is the in-domain bulk (keep all), de downsampled to
# ~50%, everything else to ~25% — the sampling-proportions shape of
# training-mixture construction (the rates themselves are config).
_MIX_KEY = "md5(concat('mix-', CAST(doc_id AS {cast_str})))"
_MIX_DEFAULT = "40"


@query(
    "training_mixture_sample",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE CASE WHEN lang = 'en' THEN TRUE
           WHEN lang = 'de' THEN substr({_MIX_KEY.format(cast_str='VARCHAR')}, 1, 2) < '80'
           ELSE substr({_MIX_KEY.format(cast_str='VARCHAR')}, 1, 2) < '40'
      END
""",
)
def training_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling: per-language keep rates
    applied by content-hash thresholding (md5 byte < rate*256), so the
    mixture is reproducible across runs, engines, retries, and
    partitionings — ``df.sample`` would reshuffle the corpus every run.

    Scale: pure map-side filter (no shuffle, no state); upsampling a
    domain is the same op with an explode-by-epoch in front. The rates
    here are fixtures; production passes a rate table and broadcasts it.
    """
    docs = load_table(spark, "documents", sf_dir)
    hh = F.expr(
        "substring(" + _MIX_KEY.format(cast_str="STRING") + ", 1, 2)"
    )
    keep = (
        F.when(F.col("lang") == "en", F.lit(True))
        .when(F.col("lang") == "de", hh < "80")
        .otherwise(hh < _MIX_DEFAULT)
    )
    return docs.where(keep).select("doc_id", "lang", "source")


# Sequence packing: concat-and-split — the standard pretraining pack
# (stream the chunked corpus in a deterministic order, cut every
# PACK_CONTEXT chars). Sharded so the running offset is a per-shard
# window, not a global one; shard count scales with corpus size.
PACK_CONTEXT = 512
PACK_SHARDS = 16


@query(
    "pack_chunks_greedy",
    oracle=f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text), 1), {CHUNK_STRIDE})) AS start
    FROM documents
), chunks AS (
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
           length(substr(text, start, {CHUNK_SIZE})) AS chunk_len,
           {H.duck_hash32("'pk-' || CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard
    FROM starts
), offs AS (
    SELECT shard, doc_id, chunk_idx, chunk_len,
           sum(chunk_len) OVER (
               PARTITION BY shard ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - chunk_len AS stream_offset
    FROM chunks
)
SELECT CAST(shard AS BIGINT) AS shard, doc_id, chunk_idx,
       CAST(stream_offset // {PACK_CONTEXT} AS BIGINT) AS pack_id,
       CAST(stream_offset % {PACK_CONTEXT} AS BIGINT) AS offset_in_pack
FROM offs
""",
)
def pack_chunks_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING — concat-and-split into fixed context windows:
    chunks stream in a deterministic (doc_id, chunk_idx) order within a
    hash shard, a running-length window assigns each chunk its stream
    offset, and integer division by the context budget yields the pack
    id (+ offset inside the pack). This is how pretraining corpora are
    packed into fixed-length sequences without padding waste.

    Scale: the only shuffle is the shard window — shard count (16 here)
    grows with the corpus so each partition's running sum stays bounded,
    and packing never compares chunks pairwise. Determinism: ordering is
    (doc_id, chunk_idx) — unique per row — and the shard is an
    md5-derived hash, so layout is stable across engines and re-runs.
    """
    docs = load_table(spark, "documents", sf_dir)
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(1, greatest(length(text), 1), {CHUNK_STRIDE})")
        ).alias("start"),
        "text",
    ).select(
        "doc_id",
        F.expr(f"CAST((start - 1) div {CHUNK_STRIDE} AS INT)").alias("chunk_idx"),
        F.expr(f"length(substring(text, start, {CHUNK_SIZE}))").alias("chunk_len"),
        F.expr(
            H.spark_hash32("concat('pk-', CAST(doc_id AS STRING))")
            + f" % {PACK_SHARDS}"
        ).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = chunks.withColumn(
        "stream_offset", F.sum("chunk_len").over(w) - F.col("chunk_len")
    )
    return offs.select(
        F.col("shard").cast("bigint").alias("shard"),
        "doc_id",
        "chunk_idx",
        F.expr(f"CAST(stream_offset div {PACK_CONTEXT} AS BIGINT)").alias("pack_id"),
        (F.col("stream_offset") % PACK_CONTEXT).cast("bigint").alias("offset_in_pack"),
    )


# Benchmark decontamination: the eval-overlap pass a training pipeline
# runs before the corpus ships — any training doc sharing a long-enough
# n-gram with a benchmark/eval document is flagged (the GPT-3 13-gram
# method, scaled to this corpus's short synthetic docs). The benchmark
# set here is a deterministic pseudo-eval slice (doc_id % 11 = 0);
# production swaps in the real eval corpora, same plan.
DECON_NGRAM = 5
DECON_MOD = 11


# Code-version component of the decon scratch key (mirrors
# IVF_INDEX_VERSION / CODEBOOK_VERSION): bump when the
# tokenize/shingle/hash derivation OR the bloom packing changes.
DECON_CACHE_VERSION = 1


def _decon_scratch_parent(spark: SparkSession, sf_dir: str) -> str:
    """Keyed parent dir for the decon contamination index — the
    shingle-hash table and the packed bloom words live side by side.
    Each application derives its own copy exactly once, so the build
    lands in its cold first touch and later runs reuse it. Production
    posture unchanged: a real deployment maintains the contamination
    index as a published table and probes it."""
    from ..scratch import keyed_dir

    return keyed_dir(
        spark, "deconsh", sf_dir, ("documents",), (DECON_CACHE_VERSION, DECON_NGRAM)
    )


def _decon_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> exploded (doc_id, gh) 5-gram hash rows, materialized
    once to keyed parquet scratch and shared by both decontamination
    rows — the _minhash_sigs discipline (which can't be reused
    directly: its shingles are the dedup family's n-gram width, decon
    uses DECON_NGRAM=5). Until r12 each decon row re-derived the full
    tokenize + md5-shingle pipeline per run; the overlap row was the
    single slowest sweep query (9.4 s — the md5 derivation dominates;
    the join/aggregate is cheap). Scratch survives the bench's
    clearCache isolation (the derivation is exact md5 integers, so
    reuse is value-identical by construction) and is the production
    shape anyway: a contamination index you maintain, not a per-query
    derivation."""
    import os

    from ..catalog import widen_scan
    from ..scratch import materialize_once

    path = os.path.join(_decon_scratch_parent(spark, sf_dir), "gh")

    def _write(tmp: str) -> None:
        docs = widen_scan(load_table(spark, "documents", sf_dir))
        (
            docs.select(
                "doc_id",
                F.explode(
                    F.expr(
                        H.spark_shingle_hashes(
                            H.spark_shingles(H.spark_tokens("text"), DECON_NGRAM)
                        )
                    )
                ).alias("gh"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        )

    # atomic publish (r12 advice 1): these cached shingles ARE part of
    # the verified output, so readers must never see a partial write.
    # Schema pinned on read (the read_ivf_index discipline): a fresh
    # process skips the footer-inference job on first touch.
    materialize_once(path, _write)
    return spark.read.schema("doc_id bigint, gh bigint").parquet(path)


def _decon_report(train: DataFrame, bench: DataFrame) -> DataFrame:
    """The contamination report every decontamination row ends in:
    ``train``'s (doc_id, gh) rows joined to the broadcast ``bench``
    (bench_id, gh) rows on the n-gram hash, then per doc the distinct
    leaked n-grams and the distinct benchmark docs they touch. Each
    count is ``size(collect_set(...))``: exact, null-ignoring like
    ``countDistinct``, and planned without the Expand that two distinct
    aggregates in one ``agg`` need (whose projection order also varied
    from one process to the next)."""
    return (
        train.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(
            F.size(F.collect_set("gh")).cast("bigint").alias("n_overlap_ngrams"),
            F.size(F.collect_set("bench_id")).cast("bigint").alias("n_bench_docs"),
        )
    )


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH tok AS (SELECT doc_id, {H.duck_tokens("text")} AS toks FROM documents),
sh AS (
    SELECT doc_id, unnest({H.duck_shingle_hashes(H.duck_shingles("toks", DECON_NGRAM))}) AS gh
    FROM tok
),
bench AS (SELECT doc_id AS bench_id, gh FROM sh WHERE doc_id % {DECON_MOD} = 0),
train AS (SELECT doc_id, gh FROM sh WHERE doc_id % {DECON_MOD} <> 0)
SELECT t.doc_id,
       CAST(count(DISTINCT t.gh) AS BIGINT) AS n_overlap_ngrams,
       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM train t JOIN bench b ON t.gh = b.gh
GROUP BY t.doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set DECONTAMINATION: flag every training document that
    shares at least one 5-token n-gram with the benchmark slice — the
    overlap-removal pass (GPT-3 appendix C / PaLM style) that keeps eval
    data out of the training corpus. Output is the contamination report:
    per flagged doc, how many distinct n-grams leaked and how many
    benchmark docs they touch (the drop/quarantine decision input).

    Plan/scale: each side explodes to (doc, ngram-HASH) rows — 8-byte
    md5-derived keys (functions/hashing.py), never the n-gram strings —
    and one hash equi-join on the n-gram key does the matching. The
    benchmark side is eval-sized (tiny vs the corpus), so AQE broadcasts
    it and the 100 TB side never shuffles; dedup within doc is free
    (shingle sets are distinct by construction). Count-distinct runs at
    flagged-doc cardinality. No UDFs anywhere.
    """
    sh = _decon_shingle_hashes(spark, sf_dir)
    bench = sh.where(F.col("doc_id") % DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = sh.where(F.col("doc_id") % DECON_MOD != 0)
    return _decon_report(train, bench)


# Bloom-prefilter decontamination. Spark 4.1.2 does NOT expose
# bloom_filter_agg / might_contain as public SQL (probed 2026-08-14:
# UNRESOLVED_ROUTINE — they remain internal to runtime join filters),
# so the filter is composed from public primitives instead: K hash
# positions per n-gram, bit_or-packed into 64-bit words, broadcast as a
# one-row map, membership tested with codegen bit arithmetic. No UDFs,
# no driver-side data loop — the only collect is the bounded
# BLOOM_BITS/64-word filter itself (control-plane, like the IVF
# codebook).
BLOOM_BITS = 1 << 20  # 1 Mi bits = 16 Ki longs (~128 KB broadcast)
BLOOM_K = 3


def _bloom_positions(gh, k: int = BLOOM_K):
    return [F.pmod(F.xxhash64(gh, F.lit(i)), F.lit(BLOOM_BITS)) for i in range(k)]


def _bloom_words(bench: DataFrame) -> DataFrame:
    """(w, bits) packed-long bloom words aggregated from ``bench``'s
    n-gram hashes — K bit positions per hash, bit_or-packed into 64-bit
    words (BLOOM_BITS/64 rows max)."""
    pos = F.explode(F.array(*_bloom_positions(F.col("gh")))).alias("pos")
    return (
        bench.select(pos)
        .groupBy((F.col("pos") / 64).cast("long").alias("w"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
                )
            ).alias("bits")
        )
    )


def _decon_bloom_words_path(spark: SparkSession, sf_dir: str) -> str:
    """Publish (idempotently) the packed bloom filter of the BASE
    pseudo-eval slice's n-gram hashes and return its scratch path —
    split out of ``_decon_bloom_words`` so the r15 delta-merge plumbing
    can manifest the base artifact's files without re-deriving them."""
    import os

    from ..scratch import materialize_once

    parent = _decon_scratch_parent(spark, sf_dir)
    path = os.path.join(
        parent, f"bloomwords_b{BLOOM_BITS}_k{BLOOM_K}_m{DECON_MOD}"
    )

    def _write(tmp: str) -> None:
        sh = _decon_shingle_hashes(spark, sf_dir)
        bench = sh.where(F.col("doc_id") % DECON_MOD == 0).select("gh")
        _bloom_words(bench).coalesce(1).write.mode("overwrite").parquet(tmp)

    materialize_once(path, _write)
    return path


def _decon_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed bloom filter of the pseudo-eval slice's n-gram hashes,
    materialized once beside the shingle scratch (r13 verdict perf
    item: rebuilding the filter per process cost 6.2 s sweep-cold vs
    2-3.5 s warm). Deterministic given the key — xxhash64 positions and
    bit_or packing are exact integer arithmetic — so reuse of the
    scratch is value-identical by construction; the params ride the key
    so a constant change can never read a stale filter."""
    return spark.read.schema("w bigint, bits bigint").parquet(
        _decon_bloom_words_path(spark, sf_dir)
    )


@query(
    "decontaminate_bloom_gated",
    oracle=f"""
WITH tok AS (SELECT doc_id, {H.duck_tokens("text")} AS toks FROM documents),
sh AS (
    SELECT doc_id, unnest({H.duck_shingle_hashes(H.duck_shingles("toks", DECON_NGRAM))}) AS gh
    FROM tok
),
bench AS (SELECT doc_id AS bench_id, gh FROM sh WHERE doc_id % {DECON_MOD} = 0),
train AS (SELECT doc_id, gh FROM sh WHERE doc_id % {DECON_MOD} <> 0)
SELECT t.doc_id,
       CAST(count(DISTINCT t.gh) AS BIGINT) AS n_overlap_ngrams,
       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM train t JOIN bench b ON t.gh = b.gh
GROUP BY t.doc_id
""",
)
def decontaminate_bloom_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — the SURVEY §8
    queue item, unblocked by building the filter from public
    primitives (see note above; the internal bloom_filter_agg /
    might_contain SQL routines are not exposed in this Spark build).

    Build: the eval side's n-gram hashes set K=3 bit positions each in
    a 2^20-bit array — an aggregation to BLOOM_BITS/64 packed longs
    (bit_or), folded into ONE row as a word->bits map and broadcast.
    Probe: every training n-gram tests its K bits with pure codegen
    (element_at + shiftleft + bitwise AND) before the exact equi-join;
    only rows passing the bloom reach the shuffle-side join.

    Correctness: a bloom filter has NO false negatives, so the exact
    join after the gate produces byte-identical output to
    decontaminate_ngram_overlap (shared oracle). False positives cost
    only wasted probe rows — at 100 TB the gate drops the vast
    majority of the corpus's n-grams map-side BEFORE the broadcast
    join, which is the point: the expensive side never materializes
    non-candidate rows into the join at all (same discipline as LSH
    block-then-verify; tests pin the pruning actually bites).
    """
    sh = _decon_shingle_hashes(spark, sf_dir)
    bench = sh.where(F.col("doc_id") % DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = sh.where(F.col("doc_id") % DECON_MOD != 0)
    gated = _bloom_gate(train, bench, words=_decon_bloom_words(spark, sf_dir))
    return _decon_report(gated, bench)


def _bloom_gate(
    train: DataFrame, bench: DataFrame, words: DataFrame | None = None
) -> DataFrame:
    """(doc_id, gh) rows of ``train`` whose n-gram hash passes a bloom
    filter built from ``bench``'s hashes — the map-side candidate gate
    (exposed separately so tests can pin the pruning rate). Pass
    ``words`` to reuse a pre-materialized packed filter (the scratch
    path); derived fresh from ``bench`` otherwise — identical values
    either way (exact integer packing)."""
    if words is None:
        words = _bloom_words(bench)
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bloom")
    )

    def might_contain(gh):
        checks = []
        for p in _bloom_positions(gh):
            word = F.coalesce(
                F.element_at(F.col("bloom"), (p / 64).cast("long")), F.lit(0)
            )
            bit = F.call_function(
                "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
            )
            checks.append(word.bitwiseAND(bit) != 0)
        out = checks[0]
        for c in checks[1:]:
            out = out & c
        return out

    return (
        train.crossJoin(F.broadcast(bloom))
        .where(might_contain(F.col("gh")))
        .select("doc_id", "gh")
    )


# --- bloom-index incremental delta merge (round 15) ---------------------------
# The contamination index's delta path, mirroring ann_ivf_delta_append's
# no-base-rewrite claim: when a NEW eval slice ships, its n-gram hashes
# are packed into bloom words and bit_or-MERGED with the standing filter
# — positionwise bit_or folds are associative/commutative, so the merge
# is EXACTLY equal to a full rebuild over the union
# (tests/test_round14_ops.py::test_bloom_words_incremental_merge_equals_
# rebuild proved the algebra; this makes it a maintained artifact + an
# oracle row). At 100 TB the standing filter guards a corpus-scale
# decontamination pass: appending an eval slice costs O(|delta slice|),
# never a re-derivation of every benchmark already indexed.
BLOOM_DELTA_REM = 1  # the delta eval slice: doc_id % DECON_MOD == 1


def _decon_bloom_delta_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGED packed bloom filter (base slice ∪ delta slice),
    published as its own scratch artifact beside the base words: the
    build READS the standing base filter (one ≤16 Ki-row parquet file)
    and derives words only for the delta slice's hashes, then bit_or-
    merges per word. ``_base_words_manifest.json`` snapshots the base
    artifact's data files (size, mtime_ns) before and after the merge
    so pytest proves the base was never rewritten — the decon mirror of
    the IVF base-manifest discipline."""
    import json
    import os

    from ..scratch import materialize_once

    parent = _decon_scratch_parent(spark, sf_dir)
    base_path = _decon_bloom_words_path(spark, sf_dir)
    path = os.path.join(
        parent,
        f"bloomwords_b{BLOOM_BITS}_k{BLOOM_K}_m{DECON_MOD}_delta{BLOOM_DELTA_REM}",
    )

    def _manifest(root: str) -> dict:
        out = {}
        for f in sorted(os.listdir(root)):
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            out[f] = [st.st_size, st.st_mtime_ns]
        return out

    def _write(tmp: str) -> None:
        pre = _manifest(base_path)
        base = spark.read.schema("w bigint, bits bigint").parquet(base_path)
        sh = _decon_shingle_hashes(spark, sf_dir)
        delta = sh.where(F.col("doc_id") % DECON_MOD == BLOOM_DELTA_REM).select("gh")
        merged = (
            base.unionByName(_bloom_words(delta))
            .groupBy("w")
            .agg(F.bit_or("bits").alias("bits"))
        )
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_base_words_manifest.json"), "w") as fh:
            json.dump({"pre": pre, "post": _manifest(base_path)}, fh)

    materialize_once(path, _write)
    return spark.read.schema("w bigint, bits bigint").parquet(path)


@query(
    "decontaminate_bloom_delta",
    oracle=f"""
WITH tok AS (SELECT doc_id, {H.duck_tokens("text")} AS toks FROM documents),
sh AS (
    SELECT doc_id, unnest({H.duck_shingle_hashes(H.duck_shingles("toks", DECON_NGRAM))}) AS gh
    FROM tok
),
bench AS (SELECT doc_id AS bench_id, gh FROM sh
          WHERE doc_id % {DECON_MOD} IN (0, {BLOOM_DELTA_REM})),
train AS (SELECT doc_id, gh FROM sh
          WHERE doc_id % {DECON_MOD} NOT IN (0, {BLOOM_DELTA_REM}))
SELECT t.doc_id,
       CAST(count(DISTINCT t.gh) AS BIGINT) AS n_overlap_ngrams,
       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM train t JOIN bench b ON t.gh = b.gh
GROUP BY t.doc_id
""",
)
def decontaminate_bloom_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against the INCREMENTALLY MAINTAINED bloom index
    (r14 verdict item 1d): a new eval slice (doc_id % 11 == 1) arrived
    after the standing filter was built, so its words were bit_or-merged
    into a delta artifact WITHOUT re-deriving the base slice
    (_decon_bloom_delta_words — base files proven byte-untouched by the
    build's own manifest), and this row gates the training corpus
    through the merged filter before the exact equi-join against the
    UNION bench. The oracle is the exact overlap over both slices:
    hash-equal because bit_or packing is associative (merge == rebuild,
    algebra pinned in tests/test_round14_ops.py) and a bloom gate has
    no false negatives.

    Plan/scale: the merge costs one ≤16 Ki-row read + O(|delta
    slice|) hashing — the standing index is never re-derived (the
    decon mirror of ann_ivf_delta_append); the gate itself is the
    map-side codegen probe of decontaminate_bloom_gated with the same
    broadcast join after it."""
    sh = _decon_shingle_hashes(spark, sf_dir)
    m = F.col("doc_id") % DECON_MOD
    bench = sh.where((m == 0) | (m == BLOOM_DELTA_REM)).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = sh.where((m != 0) & (m != BLOOM_DELTA_REM))
    gated = _bloom_gate(train, bench, words=_decon_bloom_delta_words(spark, sf_dir))
    return _decon_report(gated, bench)


@query(
    "stratified_sample_events",
    oracle="""
WITH ranked AS (
    SELECT event_id, event_type, user_id,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('ev-' || CAST(event_id AS VARCHAR)), event_id
           ) AS rn
    FROM events
)
SELECT event_id, event_type, user_id
FROM ranked WHERE rn <= 100
""",
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 100 events per
    event_type, chosen by ranking each stratum on a content hash —
    reproducible across runs and engines, unlike ``df.sample`` whose
    output depends on partitioning. This is how a training pipeline
    draws stable eval slices per source/domain.

    Scale: one shuffle on the stratum key — and the rank<=k filter is
    already the two-phase per-partition heap: Catalyst's
    InferWindowGroupLimit plans a PARTIAL WindowGroupLimit below the
    exchange (map-side top-k per input partition, <=k rows per stratum
    shuffled per task) and the final pass above it — bounded memory on
    heavy strata with no hand-rolled mapPartitions
    (tests/test_plan_quality.py pins the partial-below-exchange shape).
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.expr("md5(concat('ev-', CAST(event_id AS STRING)))"), F.col("event_id")
    )
    return (
        ev.select("event_id", "event_type", "user_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 100)
        .drop("rn")
    )


# Quota sampling: a hard per-stratum cap (vs stratified_sample_events'
# per-stratum RATE) — "at most K docs per source", the dataset-balancing
# primitive for over-represented crawl domains.
# 10 of the test corpus's 20x25-doc sources: the cap genuinely binds at
# every SF (a quota >= docs-per-source would make the check vacuous).
QUOTA_PER_SOURCE = 10


@query(
    "quota_sample_per_source",
    oracle=f"""
SELECT doc_id, source, CAST(rn AS INT) AS sample_rank
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {H.duck_hash32("'qs-' || CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= {QUOTA_PER_SOURCE}
""",
)
def quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sample: keep at most K documents per source,
    chosen by a deterministic hash order (md5-derived, salted 'qs-') so
    the sample is uniform-at-random w.r.t. content, reproducible across
    reruns/engines, and stable under corpus growth (a doc's hash never
    changes, so adding new docs only displaces keeps at the quota
    boundary).

    Scale: one shuffle on source; the per-source window never sorts more
    than one stratum per task, and WindowGroupLimit prunes beyond-quota
    rows map-side. A skew-proof variant for a giant stratum: hash-bucket
    within source, take K/buckets per bucket. Hash ties (32-bit, ~n^2/2^33
    chance per stratum) break on doc_id identically in both engines."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.expr(H.spark_hash32("concat('qs-', CAST(doc_id AS STRING))")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source", F.col("rn").cast("int").alias("sample_rank"))
    )


@query(
    "dedup_keep_best_quality",
    oracle=f"""
WITH RECURSIVE {duck_components_ctes()},
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
m AS (
    SELECT c.component, c.node AS doc_id, d.n_chars
    FROM comp c JOIN documents d ON d.doc_id = c.node
)
SELECT component, doc_id AS keep_doc, n_chars AS keep_chars,
       n_members
FROM (
    SELECT *,
           row_number() OVER (
               PARTITION BY component ORDER BY n_chars DESC, doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY component) AS n_members
    FROM m
)
WHERE rn = 1
""",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection as a pluggable POLICY: for each near-dup group
    keep the highest-quality member (longest text, ties to the smaller
    doc_id) instead of dedup_components' min-id pick — the policy real
    pipelines want, since the shortest copy is usually the truncated one.
    One row per duplicate group: the kept doc and the group size.

    Scale: reuses the blocked pairs -> components stages unchanged;
    the policy itself is one n_chars lookup join (group table is tiny —
    AQE broadcasts it) plus a window PARTITIONED by component. Swapping
    the ORDER BY swaps the policy; nothing upstream recomputes."""
    from ..operators.components import dedup_components

    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    m = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("component")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").alias("keep_chars"),
            "n_members",
        )
    )


@query(
    "token_mixture_weights",
    oracle="""
WITH per_source AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
    FROM documents
    GROUP BY source
), totals AS (
    SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
           count(*) AS n_sources
    FROM per_source
)
SELECT p.source, p.src_tokens,
       CAST(least(1000000,
                  (t.total_tokens // t.n_sources) * 1000000 // p.src_tokens)
            AS BIGINT) AS weight_ppm,
       CAST(p.src_tokens
            * least(1000000,
                    (t.total_tokens // t.n_sources) * 1000000 // p.src_tokens)
            // 1000000 AS BIGINT) AS sampled_tokens
FROM per_source p CROSS JOIN totals t
""",
)
def token_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: given per-source token mass, compute
    the downsampling weight that flattens the corpus toward an equal
    per-source token budget (weight capped at 1 — no upsampling), plus
    the resulting sampled token count. This is the planning step behind
    every 'X% web, Y% code' mixture spec: weights here feed the
    hash-threshold samplers (training_mixture_sample) as their rates.

    All arithmetic is integer (parts-per-million weights), so the result
    is bit-exact on both engines with no float-rounding discipline.
    Headroom: target_tokens x 1e6 must stay under 2^63 — fine through
    ~9e12 tokens per source bucket, and the ppm scale can drop to ppb
    at larger corpora.

    Scale: one partial-aggregated groupBy over documents (token counting
    is codegen split+size, no UDF); the totals side is ONE row,
    broadcast into the crossJoin — the standard scalar-broadcast shape,
    no data-side shuffle beyond the source rollup."""
    docs = load_table(spark, "documents", sf_dir)
    per_source = docs.groupBy("source").agg(
        F.expr("CAST(sum(size(split(text, ' '))) AS BIGINT)").alias("src_tokens")
    )
    totals = per_source.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    weight = F.least(
        F.lit(1_000_000).cast("long"),
        F.expr("(total_tokens div n_sources) * 1000000 div src_tokens"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .withColumn("weight_ppm", weight)
        .select(
            "source",
            "src_tokens",
            "weight_ppm",
            F.expr("src_tokens * weight_ppm div 1000000").alias("sampled_tokens"),
        )
    )


@query(
    "quality_percentile_gate",
    oracle="""
WITH scored AS (
    SELECT doc_id, lang, n_chars,
           percent_rank() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
           ) AS pr
    FROM documents
)
SELECT doc_id, lang, n_chars, round(pr, 6) AS pr
FROM scored
WHERE pr >= 0.10
""",
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gating: drop the bottom decile of documents PER
    LANGUAGE rather than by an absolute threshold — the policy that
    keeps a low-resource language from being wiped out by a cutoff
    tuned on the dominant one (absolute gates are corpus_quality_filter;
    this is the distribution-aware variant). n_chars stands in for the
    quality score; swap any textops score in unchanged.

    Scale: percent_rank needs only a per-partition sort after one
    shuffle on lang — but lang is LOW-CARDINALITY (tens of values), so
    at 100 TB this window is the skew risk: the fix is the two-pass
    form — registered as quality_percentile_gate_2pass below (per-lang
    decile cutoffs via a mergeable percentile sketch, broadcast, filter
    map-side) — same policy, no giant partitions. This exact positional
    variant stays as the oracle-precise twin.

    Determinism: (n_chars, doc_id) ordering is unique, so percent_rank
    is position-exact on both engines; 6 dp round of the same IEEE
    division is bit-stable."""
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
        )
        .where(F.col("pr") >= 0.10)
    )


@query(
    "quality_percentile_gate_2pass",
    oracle="""
WITH cut AS (
    SELECT lang, quantile_disc(n_chars, 0.10) AS lang_cutoff
    FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars, CAST(c.lang_cutoff AS BIGINT) AS lang_cutoff
FROM documents d JOIN cut c USING (lang)
WHERE d.n_chars >= c.lang_cutoff
""",
)
def quality_percentile_gate_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of quality_percentile_gate: drop below-decile
    documents per language WITHOUT a percent_rank window over the
    low-cardinality lang key (whose giant skewed partitions are the
    scale-killer the exact variant documents).

    Pass 1 computes each language's decile cutoff VALUE with the
    mergeable Greenwald-Khanna percentile sketch (map-side partials,
    tiny merge — the same accuracy-1e6 setting approx_quantiles
    verified against DuckDB's quantile_disc discrete convention);
    pass 2 broadcasts the |langs|-row cutoff table and filters
    map-side. No partition ever holds more than a task's worth of rows,
    and the filter runs before any shuffle.

    Semantics note: the cutoff is value-based (keep n_chars >= the
    decile element), so boundary TIES are kept — the deterministic
    distributed form of "drop the bottom decile"; the positional exact
    variant remains registered as its oracle-precise twin. Surface
    lang_cutoff is cast BIGINT on both engines (lesson: DuckDB
    aggregate integer surfaces)."""
    docs = load_table(spark, "documents", sf_dir)
    cuts = docs.groupBy("lang").agg(
        F.percentile_approx("n_chars", 0.10, 1000000)
        .cast("long")
        .alias("lang_cutoff")
    )
    return (
        docs.join(F.broadcast(cuts), "lang")
        .where(F.col("n_chars") >= F.col("lang_cutoff"))
        .select("doc_id", "lang", "n_chars", "lang_cutoff")
    )


# --- negative sampling (contrastive / recsys training pairs) ----------------

NEG_SAMPLES_PER_USER = 3
# Two-stage determinism: (1) a GLOBAL catalog subsample of about
# NEG_POOL_ITEMS items — the per-item hash threshold scales INVERSELY
# with catalog size, so the candidate pool (and hence the per-user
# ranking work) stays constant no matter how large the item dimension
# grows; (2) per-(user, item) hash ranking inside that pool. Sampling
# negatives from a uniform catalog slice per epoch is the standard
# contrastive-training setup; re-keying the item hash (e.g. an epoch
# salt) redraws the slice.
NEG_POOL_ITEMS = 120
_H32_SPACE = 1 << 32


@query(
    "negative_sampling_per_user",
    oracle=f"""
WITH n_items AS (SELECT count(*) AS n FROM part),
pool AS (
    SELECT p.p_partkey AS item_id
    FROM part p CROSS JOIN n_items
    WHERE CAST(('0x' || substring(md5(CAST(p.p_partkey AS VARCHAR)), 1, 8)) AS BIGINT)
          < {_H32_SPACE}::BIGINT * {NEG_POOL_ITEMS} // n_items.n
),
interactions AS (
    SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
users AS (SELECT DISTINCT user_id FROM interactions),
cand AS (
    SELECT u.user_id, po.item_id,
           CAST(('0x' || substring(md5(CAST(u.user_id AS VARCHAR) || '#'
                || CAST(po.item_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
    FROM users u CROSS JOIN pool po
),
survivors AS (
    SELECT c.user_id, c.item_id, c.h
    FROM cand c
    LEFT JOIN interactions ui
      ON ui.user_id = c.user_id AND ui.item_id = c.item_id
    WHERE ui.user_id IS NULL
),
ranked AS (
    SELECT user_id, item_id, h,
           row_number() OVER (PARTITION BY user_id ORDER BY h, item_id) AS rnk
    FROM survivors
)
SELECT user_id, item_id, CAST(rnk AS INT) AS neg_rank
FROM ranked WHERE rnk <= {NEG_SAMPLES_PER_USER}
""",
)
def negative_sampling_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training data
    op (recsys two-tower / embedding training): for every user, K items
    they have NEVER interacted with, chosen by portable hash rank so
    the sample is reproducible across runs, engines, and backfills (the
    dataset_split_assign philosophy applied to pair construction).

    Scale design (the round-6 OOM lesson, fixed the same day): the
    naive form hashes |users| x |items| pairs — 300M md5s at sf0.1
    blew a vanilla 1g session. Stage 1 subsamples the CATALOG to a
    ~NEG_POOL_ITEMS global pool with a per-item hash threshold that
    scales inversely with catalog size (item-count scalar from a
    one-row broadcast, no collect); stage 2 ranks users x pool
    (pool broadcasts — it is constant-size by construction), anti-joins
    interactions, and takes the per-user top-K with map-side
    WindowGroupLimit. Work is |users| x O(1) at ANY catalog size.

    Starvation honesty: a user who interacted with much of the POOL
    gets < K negatives (observed: 3 rows short of users*K at sf0.1 —
    the tail is real but tiny); production doubles the pool for
    starved users. tests/test_aggregates_props.py::
    test_negative_sampling_properties pins exactly-K at its scale and
    zero positive leakage everywhere."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey")
    n_items = part.agg(F.count(F.lit(1)).alias("n"))
    h_item = (
        "CAST(conv(substring(md5(CAST(p_partkey AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    pool = (
        part.crossJoin(F.broadcast(n_items))
        .where(F.expr(f"{h_item} < CAST({_H32_SPACE} AS BIGINT) * {NEG_POOL_ITEMS} DIV n"))
        .select(F.col("p_partkey").alias("item_id"))
    )
    ui = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )
    # ui feeds BOTH the user spine and the anti-join; without a lineage
    # cut the lineitem⋈orders distinct is planned twice (r18 interleaved
    # A/B at sf0.1: 12.8->8.9, 6.1->5.3, 5.1->4.9 s in adjacent pairs,
    # digests equal).
    ui = share_if_bounded(ui, sf_dir, "lineitem")
    users = ui.select("user_id").distinct()
    h_pair = (
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), '#',"
        " CAST(item_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    cand = users.crossJoin(F.broadcast(pool)).withColumn("h", F.expr(h_pair))
    survivors = cand.join(ui, ["user_id", "item_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("h", "item_id")
    return (
        survivors.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= NEG_SAMPLES_PER_USER)
        .select("user_id", "item_id", F.col("rnk").cast("int").alias("neg_rank"))
    )


# --- end-to-end training-corpus funnel (capstone composition) ---------------

_E2E_ORACLE = f"""
WITH RECURSIVE {duck_components_ctes()},
noncanon AS (
    SELECT node FROM reach GROUP BY node HAVING node <> min(r)
),
qtok AS (
    SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
),
qm AS (
    SELECT doc_id, n_chars, len(toks) AS n_tokens,
           {{stop_hits}} AS stop_hits
    FROM qtok
),
quality AS (
    SELECT doc_id FROM qm
    WHERE n_chars >= 50
      AND (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
          * (0.5 + CAST(stop_hits AS DOUBLE) / n_tokens) >= 0.6
),
dtok AS (SELECT doc_id, {{toks}} AS toks FROM documents),
dsh AS (
    SELECT doc_id, unnest({{grams}}) AS gh FROM dtok
),
bench AS (SELECT doc_id AS bench_id, gh FROM dsh WHERE doc_id % {{dmod}} = 0),
contaminated AS (
    SELECT DISTINCT t.doc_id
    FROM (SELECT doc_id, gh FROM dsh WHERE doc_id % {{dmod}} <> 0) t
    JOIN bench b ON t.gh = b.gh
),
s_quality AS (
    SELECT d.doc_id, d.n_chars FROM documents d JOIN quality q USING (doc_id)
),
s_dedup AS (
    SELECT * FROM s_quality WHERE doc_id NOT IN (SELECT node FROM noncanon)
),
s_clean AS (
    SELECT * FROM s_dedup
    WHERE doc_id % {{dmod}} <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
s_split AS (
    SELECT c.*, CASE WHEN substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                     THEN 'train'
                WHEN substr(md5('doc-' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                     THEN 'val'
                ELSE 'test' END AS split
    FROM s_clean c
)
SELECT 'raw' AS stage, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM documents
UNION ALL
SELECT 'quality', count(*), CAST(sum(n_chars) AS BIGINT) FROM s_quality
UNION ALL
SELECT 'dedup', count(*), CAST(sum(n_chars) AS BIGINT) FROM s_dedup
UNION ALL
SELECT 'clean', count(*), CAST(sum(n_chars) AS BIGINT) FROM s_clean
UNION ALL
SELECT 'split:' || split, count(*), CAST(sum(n_chars) AS BIGINT)
FROM s_split GROUP BY split
"""


@query(
    "training_corpus_funnel",
    oracle=_E2E_ORACLE.format(
        toks=H.duck_tokens("text"),
        grams=H.duck_shingle_hashes(H.duck_shingles("toks", DECON_NGRAM)),
        dmod=DECON_MOD,
        stop_hits=_textops._duck_hits("en"),
    ),
)
def training_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE verified funnel — the
    capstone composition a user actually ships: raw corpus -> quality
    gate (corpus_quality_filter) -> near-dup canonicalization
    (corpus_dedup_canonical: LSH find, exact verify, components,
    canonical keep) -> benchmark decontamination (drop the eval slice
    AND every doc sharing a 5-gram with it) -> hash-stable
    train/val/test split (dataset_split_assign). Each row is a funnel
    stage with surviving doc and char counts; the oracle recomputes
    the ENTIRE composition — recursive-CTE components included — so
    stage interactions (not just stages) sit under one value hash.

    Plan/scale: every stage reuses the registered operator's plan
    unchanged (blocked pair generation, broadcast eval side, map-side
    split); the funnel adds semi/anti joins on doc_id — dimension-key
    joins AQE broadcasts — and four fixed-size aggregates. The
    composition is exactly what runs at 100 TB; the per-stage queries
    exist so each stage is also verified in isolation."""
    from .textops import corpus_quality_filter

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    quality = corpus_quality_filter(spark, sf_dir).select("doc_id")
    canon = corpus_dedup_canonical(spark, sf_dir).select("doc_id")
    flagged = decontaminate_ngram_overlap(spark, sf_dir).select("doc_id")
    splits = dataset_split_assign(spark, sf_dir)

    # Each funnel stage feeds BOTH its own aggregate and every later
    # stage's chain. No stage checkpoints on purpose: Spark's
    # ReusedExchange already shares the identical shuffle subplans
    # across the union's branches within the one action, so eager
    # localCheckpoints only add job barriers (interleaved A/B at sf0.1:
    # 4.99s median with, 4.51s without).
    s_quality = docs.join(quality, "doc_id", "left_semi")
    s_dedup = s_quality.join(canon, "doc_id", "left_semi")
    s_clean = s_dedup.where(F.col("doc_id") % DECON_MOD != 0).join(
        flagged, "doc_id", "left_anti"
    )
    s_split = s_clean.join(splits, "doc_id")

    def stage(name, df):
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        ).select(F.lit(name).alias("stage"), "n_docs", "n_chars")

    per_split = (
        s_split.groupBy(F.concat(F.lit("split:"), F.col("split")).alias("stage"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    return (
        stage("raw", docs)
        .unionByName(stage("quality", s_quality))
        .unionByName(stage("dedup", s_dedup))
        .unionByName(stage("clean", s_clean))
        .unionByName(per_split)
    )


# --- GDPR / right-to-be-forgotten erasure audit -----------------------------

# Deterministic stand-in for a deletion-request list: users whose id
# hashes into a fixed 1/41 slice (a real pipeline reads the DSR queue).
ERASURE_MOD = 41


@query(
    "gdpr_erasure_audit",
    oracle=f"""
WITH del AS (
    SELECT DISTINCT user_id FROM events
    WHERE CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % {ERASURE_MOD} = 0
)
SELECT 'events' AS fact_table,
       (SELECT count(*) FROM del) AS n_subjects,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_to_erase,
       CAST(count(*) - sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained
FROM events e LEFT JOIN del d ON d.user_id = e.user_id
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM del),
       count(*),
       CAST(sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) - sum(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders o LEFT JOIN del d ON d.user_id = o.o_custkey
""",
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion-subject list
    (here a deterministic hash slice of users standing in for the DSR
    queue), report per fact table how many rows erase and how many
    remain — the pre-flight every compliance pipeline runs before the
    actual anti-join rewrite, and re-runs after to prove n_to_erase
    dropped to zero. The erase itself is the one-liner
    ``fact.join(del, key, "left_anti")`` (the referential_integrity /
    decontamination anti-join shape); the audit is what needs its own
    query because it is what gets reviewed.

    Plan/scale: the subject list is subject-cardinality and broadcasts
    into each fact scan (one pass per table, both counts from the same
    left join — the referential_integrity_check one-scan discipline);
    at 100 TB the erase rewrite additionally prunes untouched
    partitions via the same day-partitioned layout the ingest writes."""
    ev = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    hexpr = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        f" % {ERASURE_MOD} = 0"
    )
    del_users = share(
        ev.select("user_id").where(F.expr(hexpr)).distinct(), sf_dir, "events"
    )
    n_subjects = del_users.count()

    def audit(name: str, fact: DataFrame, key: str) -> DataFrame:
        d = F.broadcast(del_users.select(F.col("user_id").alias(key)).withColumn(
            "_del", F.lit(1)
        ))
        return (
            fact.select(key)
            .join(d, key, "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("_del").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_to_erase"),
            )
            .select(
                F.lit(name).alias("fact_table"),
                F.lit(n_subjects).cast("bigint").alias("n_subjects"),
                "n_rows",
                "n_to_erase",
                (F.col("n_rows") - F.col("n_to_erase")).cast("bigint").alias(
                    "n_retained"
                ),
            )
        )

    return audit("events", ev, "user_id").unionByName(
        audit("orders", orders, "o_custkey")
    )


# k-anonymity: a released row is safe when at least K peers share its
# quasi-identifier tuple. Banded balance + nation + segment are the
# quasi-identifiers here (the classic zip/birth/sex triple of the
# Sweeney attack, re-cast onto this schema); K=5 is the common release
# bar.
K_ANON_K = 5
_QI_BAND = "CAST(floor(c_acctbal / 1000) AS INT)"


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH q AS (
    SELECT c_nationkey, c_mktsegment, {_QI_BAND} AS bal_band FROM customer
),
cls AS (
    SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS class_size
    FROM q GROUP BY 1, 2, 3
)
SELECT CAST(class_size AS BIGINT) AS class_size,
       count(*) AS n_classes,
       CAST(class_size * count(*) AS BIGINT) AS n_customers,
       (class_size < {K_ANON_K}) AS below_k
FROM cls GROUP BY class_size
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit: group the table by its quasi-identifier
    tuple (nation, market segment, banded account balance — the
    linkable-attribute combination an attacker joins against public
    records), then report the equivalence-class size distribution with
    each size flagged below_k when it misses the K=5 bar. A release is
    k-anonymous iff no below_k row exists; when one does, the histogram
    says exactly how much generalization (coarser bands) or suppression
    (dropping singleton classes) the release needs. Completes the
    privacy family next to pii_detection_audit (what leaks verbatim)
    and gdpr_erasure_audit (what must be deleted).

    Plan/scale: two stacked key aggregates — rows -> class sizes ->
    size histogram — both with map-side partials; the first shuffles on
    the QI tuple (hash-uniform unless the population is, which is the
    finding), the second on |distinct sizes| keys. Output is at most
    |distinct class sizes| rows. No window, no join, no collect."""
    c = load_table(spark, "customer", sf_dir)
    cls = c.groupBy(
        "c_nationkey", "c_mktsegment", F.expr(_QI_BAND).alias("bal_band")
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        cls.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            F.col("class_size").cast("bigint").alias("class_size"),
            "n_classes",
            (F.col("class_size") * F.col("n_classes"))
            .cast("bigint")
            .alias("n_customers"),
            (F.col("class_size") < K_ANON_K).alias("below_k"),
        )
    )


# --- sequence packing (concat-then-chop batch prep) --------------------------

PACK_BUDGET_TOKENS = 512


@query(
    "training_sequence_packing",
    oracle=f"""
WITH toks AS (
    SELECT source, doc_id,
           len(string_split(text, ' ')) AS n_tok
    FROM documents
),
placed AS (
    SELECT source, doc_id, n_tok,
           sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS start_off
    FROM toks
)
SELECT source,
       CAST(start_off // {PACK_BUDGET_TOKENS} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc_id,
       CAST(sum(CASE WHEN start_off // {PACK_BUDGET_TOKENS}
                   <> (start_off + n_tok - 1) // {PACK_BUDGET_TOKENS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
FROM placed
GROUP BY source, start_off // {PACK_BUDGET_TOKENS}
""",
)
def training_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chop SEQUENCE PACKING — the batch-prep step between
    a curated corpus and a pretraining dataloader: documents are
    concatenated in a deterministic order (doc_id within source) and
    chopped into fixed PACK_BUDGET_TOKENS sequences; each document is
    assigned the bin its first token falls in, and documents straddling
    a chop boundary are counted (the fraction a loader must truncate or
    cross-attend). Token counts use the whitespace tokenization shared
    with text_token_stats, so the packing is exact integer arithmetic
    over a running sum — engine-identical.

    Output per (source, bin): docs starting there, their token mass,
    the first doc id (the bin's seek position), and the boundary-doc
    count.

    Plan/scale: one window (partitioned by source, ordered by doc_id —
    a running sum, no self-join) plus one hash aggregate. At 100 TB the
    partition key is (source, shard) so no single source serializes
    into one task, and the running sum becomes per-shard with shard
    base offsets — the same O(parts) offset-collect pattern
    dedup_sorted_neighborhood already implements for global ranks."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    placed = toks.withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok")
    )
    b = F.expr(f"start_off DIV {PACK_BUDGET_TOKENS}")
    return (
        placed.withColumn("bin_id", b.cast("bigint"))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.sum(
                F.when(
                    F.expr(
                        f"start_off DIV {PACK_BUDGET_TOKENS}"
                        f" <> (start_off + n_tok - 1) DIV {PACK_BUDGET_TOKENS}"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_boundary_docs"),
        )
    )


# --- DSIR importance resampling (hashed n-gram likelihood-ratio selection) --
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# estimate target and raw bag-of-hashed-ngrams distributions, weight
# every raw document by its target/raw likelihood ratio, keep the top
# slice. Per-bucket weights are the add-one-smoothed target/raw count
# ratio held in exact integer ppm (the constant corpus-mass
# normalization factor is dropped — it scales every bucket equally, so
# per-occurrence scores and the selection ranking are unchanged), and
# per-doc scores sum those integer weights over the doc's own feature
# occurrences — a linear classifier over hashed n-gram features, which
# is the estimator family the paper itself reduces to, kept log-free so
# the score is engine-stable by construction.
_PPM = _textops.LM_SCALE_PPM
DSIR_BUCKETS = 512
DSIR_TARGET_SOURCE = "src0"  # the trusted "target distribution" slice
DSIR_TOP_K = 100


def _dsir_occ_spark(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) stream: word unigrams + adjacent bigrams
    hashed into DSIR_BUCKETS via the engine-shared md5 hash32."""
    uni = f"transform(toks, w -> {H.spark_hash32('w')} % {DSIR_BUCKETS})"
    big = (
        "IF(size(toks) >= 2, transform(sequence(1, size(toks) - 1), i -> "
        + H.spark_hash32(
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1))"
        )
        + f" % {DSIR_BUCKETS}), array())"
    )
    return docs.select(
        "doc_id", "source", F.expr("split(text, ' ')").alias("toks")
    ).select(
        "doc_id",
        "source",
        F.explode(F.expr(f"concat({uni}, {big})")).alias("bucket"),
    )


_DSIR_OCC_DUCK = f"""
tok AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
occ AS (
    SELECT doc_id, source, unnest(list_concat(
        list_transform(toks, w -> {H.duck_hash32('w')} % {DSIR_BUCKETS}),
        list_transform(range(1, len(toks)),
                       i -> {H.duck_hash32("(toks[i] || ' ' || toks[i+1])")}
                            % {DSIR_BUCKETS})
    )) AS bucket
    FROM tok
)"""


@query(
    "dsir_importance_select",
    oracle=f"""
WITH {_DSIR_OCC_DUCK},
cq AS (SELECT bucket, count(*) AS c_q FROM occ GROUP BY bucket),
cp AS (SELECT bucket, count(*) AS c_p FROM occ
       WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket),
w AS (
    SELECT cq.bucket,
           ((coalesce(cp.c_p, 0) + 1) * {_PPM}) // (cq.c_q + 1)
               AS w_ppm
    FROM cq LEFT JOIN cp USING (bucket)
),
sc AS (
    SELECT o.doc_id, count(*) AS n_feats, sum(w.w_ppm) AS s
    FROM occ o JOIN w USING (bucket)
    GROUP BY o.doc_id
)
SELECT doc_id,
       CAST(n_feats AS BIGINT) AS n_feats,
       CAST(s // n_feats AS BIGINT) AS dsir_score_ppm
FROM sc
ORDER BY dsir_score_ppm DESC, doc_id
LIMIT {DSIR_TOP_K}
""",
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): rank the raw corpus by a
    hashed-n-gram importance weight toward a trusted target slice
    (source '{DSIR_TARGET_SOURCE}' plays the paper's Wikipedia/books
    role) and keep the top DSIR_TOP_K documents. Features are word
    unigrams + adjacent bigrams hashed into DSIR_BUCKETS dimensions —
    vocabulary-free, so the "train the importance model" step is two
    fixed-width count aggregates, not a dictionary build. Per-bucket
    weight = add-one-smoothed (target_count / raw_count) in exact
    integer ppm; per-doc score = mean bucket weight over the doc's own
    feature occurrences (length-normalized, floor division — integer
    end to end, so selection is deterministic across engines, retries,
    and partitionings).

    Plan/scale: the feature stream explodes map-side; both count tables
    aggregate to at most DSIR_BUCKETS rows (map-side partials, then a
    tiny shuffle), and the weight table — {DSIR_BUCKETS} rows — is
    BROADCAST back onto the occurrence stream, so scoring 100 TB never
    shuffles the corpus: one scan, one broadcast-join, one per-doc
    aggregate. TakeOrdered handles the global top-k (per-partition
    heaps, no full sort). At petabyte raw counts the ppm products
    approach int64 — swap the weight table to DECIMAL(38,0) there; the
    broadcast-scoring plan is unchanged."""
    docs = load_table(spark, "documents", sf_dir)
    # Fold the raw occurrence stream to per-(doc, bucket) term
    # frequencies FIRST: the md5 feature hashing is the expensive part,
    # and both consumers (the bucket-count model build and the scoring
    # join) hang off this one aggregate, so its shuffle is computed once
    # and shared via ReusedExchange — the model counts are then
    # c_q = sum(tf), c_p = sum(tf | target) in a single pass instead of
    # two separate corpus re-hashes.
    tf = (
        _dsir_occ_spark(docs)
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # (A persist of tf was A/B-measured SLOWER at sf0.1 — 1.89s vs
    # 1.77s median-of-5 — the memory-store write outweighs the second
    # hashing pass at this scale; at 100 TB the model build would read
    # a maintained tf side-table instead, like _minhash_sigs.)
    w = tf.groupBy("bucket").agg(
        F.expr(
            f"((coalesce(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'"
            f" THEN tf END), 0) + 1) * {_PPM}) div (sum(tf) + 1)"
        ).alias("w_ppm")
    )
    sc = (
        tf.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.expr("sum(tf * w_ppm)").alias("s"),
        )
    )
    return (
        sc.select(
            "doc_id",
            F.col("n_feats").cast("bigint").alias("n_feats"),
            F.expr("s div n_feats").cast("bigint").alias("dsir_score_ppm"),
        )
        .orderBy(F.desc("dsir_score_ppm"), "doc_id")
        .limit(DSIR_TOP_K)
    )


# Temporal split with an embargo gap: the leakage-safe way to split
# time-ordered data (hash splits like dataset_split_assign leak
# temporally correlated rows across the boundary; finance calls the gap
# "purging/embargo", forecasting calls it a blackout window).
SPLIT_TRAIN_END = "2024-01-18"  # train: day <= this
SPLIT_TEST_START = "2024-01-22"  # test: day > this; between = embargo


@query(
    "temporal_split_embargo",
    oracle=f"""
WITH lab AS (
    SELECT user_id,
           CASE WHEN CAST(date_trunc('day', ts) AS DATE) <= DATE '{SPLIT_TRAIN_END}'
                     THEN 'train'
                WHEN CAST(date_trunc('day', ts) AS DATE) > DATE '{SPLIT_TEST_START}'
                     THEN 'test'
                ELSE 'embargo' END AS split
    FROM events
),
test_users AS (SELECT DISTINCT user_id FROM lab WHERE split = 'test')
SELECT l.split,
       count(*) AS n_events,
       count(DISTINCT l.user_id) AS n_users,
       CAST(count(DISTINCT CASE WHEN tu.user_id IS NOT NULL
                            THEN l.user_id END) AS BIGINT)
           AS n_users_also_in_test
FROM lab l LEFT JOIN test_users tu ON tu.user_id = l.user_id
GROUP BY l.split
""",
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/embargo/test split with a leakage audit: rows
    split by event DAY with a purge window between train and test (the
    embargo that keeps temporally-correlated rows from straddling the
    boundary — the failure mode hash splits like dataset_split_assign
    can't see), plus per split the count of users who ALSO appear in
    test. That last column is the identity-leakage number: any user
    present in both train and test means user-level features fit on
    test users' history — the thing an embargo alone does not fix and
    every temporal-validation review asks about.

    Plan/scale: the split label is a map-side expression; the test-user
    set is split-cardinality-bounded (distinct users in test) and
    broadcasts back onto a two-level aggregate — per (split, user) first,
    then per split — so the distinct counts plan no Expand: one scan,
    two shuffles, three output rows."""
    ev = load_table(spark, "events", sf_dir).select("user_id", F.to_date("ts").alias("day"))
    lab = ev.select(
        "user_id",
        F.when(F.col("day") <= F.lit(SPLIT_TRAIN_END).cast("date"), "train")
        .when(F.col("day") > F.lit(SPLIT_TEST_START).cast("date"), "test")
        .otherwise("embargo")
        .alias("split"),
    )
    test_users = (
        lab.where(F.col("split") == "test")
        .select("user_id")
        .distinct()
        .withColumn("_in_test", F.lit(1))
    )
    per_user = (
        lab.join(F.broadcast(test_users), "user_id", "left")
        .groupBy("split", "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("_in_test").alias("t"))
    )
    # count("user_id"), not count(1): a NULL user is no distinct user
    return per_user.groupBy("split").agg(
        F.sum("n").alias("n_events"),
        F.count("user_id").alias("n_users"),
        F.count("t").alias("n_users_also_in_test"),
    )


# --- group-aware k-fold (round 12) -------------------------------------------
# Cross-validation over event data leaks if one user's rows straddle
# folds (user-level features memorize the held-out fold's users) — the
# same identity-leakage class temporal_split_embargo audits for time
# splits. Group k-fold assigns the GROUP (user), not the row: fold =
# md5(user) % K, the deterministic coin-flip discipline every split op
# in this repo uses, so assignment is reproducible across engines,
# retries, and partitionings, and disjointness holds by construction.
KFOLD_K = 5
KFOLD_SALT = "kfold1:"


@query(
    "stratified_group_kfold",
    oracle=f"""
WITH lab AS (
    SELECT user_id, event_type,
           {H.duck_hash32(f"'{KFOLD_SALT}' || CAST(user_id AS VARCHAR)")}
               % {KFOLD_K} AS fold
    FROM events
),
tot AS (SELECT count(*) AS n FROM events)
SELECT fold,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       count(*) AS n_events,
       CAST(count(*) * 1000000 // tot.n AS BIGINT) AS events_share_ppm,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM lab, tot
GROUP BY fold, tot.n
""",
)
def stratified_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP k-fold assignment over events, keyed by user: every row of
    a user lands in the one fold md5(salt || user_id) % K selects —
    reproducible, engine-stable, and user-disjoint across folds by
    construction (pytest pins disjointness and that no fold is empty).
    Emits per fold the user count, event count, share of the corpus in
    exact ppm (the balance a reviewer checks before trusting CV
    variance), and the event-type coverage (the stratification check —
    a fold missing a type biases its validation score).

    Plan/scale: the fold label is a map-side hash expression (no
    per-group state, no shuffle to assign); the audit aggregate
    shuffles once on the K-bounded fold key with map-side partials;
    distinct users per fold is the only user-cardinality term, exactly
    the cost any CV-split audit pays. Event types are a small fixed
    vocabulary, so their per-fold set is collected whole and sized:
    with one exact distinct left, the plan needs no Expand."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    key = f"'{KFOLD_SALT}' || CAST(user_id AS STRING)"
    lab = ev.withColumn(
        "fold", F.expr(f"({H.spark_hash32(key)}) % {KFOLD_K}")
    )
    tot = lab.agg(F.count(F.lit(1)).alias("n"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("fold", "n")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"),
        )
        .select(
            "fold",
            "n_users",
            "n_events",
            F.expr("CAST(n_events * 1000000 DIV n AS BIGINT)").alias(
                "events_share_ppm"
            ),
            "n_types",
        )
    )


# --- context-length padding-waste curve (round 12) ----------------------------
# The decision table BEFORE sequence packing: if every document is
# padded to a multiple of the context window (the no-packing baseline —
# docs never share a sequence), how many pad tokens does each candidate
# window size burn? This is what justifies pack_chunks_greedy's
# concat-and-split discipline: the curve quantifies the waste packing
# eliminates, per window size, in exact integer ppm.
PACK_WASTE_WINDOWS = [32, 64, 128]


@query(
    "pack_padding_waste_curve",
    oracle=f"""
WITH t AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
g AS (SELECT unnest([{", ".join(map(str, PACK_WASTE_WINDOWS))}]) AS window_size),
seq AS (
    SELECT g.window_size, t.doc_id, t.n_tokens,
           (t.n_tokens + g.window_size - 1) // g.window_size AS n_seqs
    FROM t CROSS JOIN g
)
SELECT window_size,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_seqs) AS BIGINT) AS n_sequences,
       CAST(sum(n_seqs) * window_size AS BIGINT) AS padded_tokens,
       CAST((sum(n_seqs) * window_size - sum(n_tokens)) * 1000000
            // (sum(n_seqs) * window_size) AS BIGINT) AS waste_ppm
FROM seq
GROUP BY window_size
""",
)
def pack_padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PADDING-WASTE curve across candidate context windows: under
    document-isolated packing (each doc padded to a multiple of the
    window — the baseline when documents must not share sequences),
    the pad-token fraction per window size in exact integer ppm. Small
    windows waste little (tails are short relative to many full
    sequences) but fragment documents; large windows waste more — the
    table a team reads against pack_chunks_greedy (which eliminates
    the waste by concat-and-split) before choosing the packing
    discipline and context budget.

    Plan/scale: token counts are one map-side expression; the window
    grid is a 3-value codegen fan-out on the same scan (no join);
    one |grid|-group aggregate with map-side partials. Integer floor
    arithmetic only."""
    docs = load_table(spark, "documents", sf_dir)
    grid = ", ".join(map(str, PACK_WASTE_WINDOWS))
    seq = docs.select(
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.explode(F.expr(f"array({grid})")).alias("window_size"),
    ).withColumn(
        "n_seqs",
        F.expr("(n_tokens + window_size - 1) DIV window_size"),
    )
    return (
        seq.groupBy("window_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_seqs").cast("bigint").alias("n_sequences"),
        )
        .select(
            "window_size",
            "n_docs",
            "total_tokens",
            "n_sequences",
            F.expr("CAST(n_sequences * window_size AS BIGINT)").alias(
                "padded_tokens"
            ),
            F.expr(
                "CAST((n_sequences * window_size - total_tokens) * 1000000"
                " DIV (n_sequences * window_size) AS BIGINT)"
            ).alias("waste_ppm"),
        )
    )


# --- crawl-batch n-gram novelty decay (round 13) -----------------------------
# The stop-crawling curve: as a crawl (here: doc_id order, batches of
# NOVELTY_BATCH docs) accumulates, what fraction of each batch's
# distinct 5-gram hashes was never seen in ANY earlier batch? Web-crawl
# curation tracks exactly this marginal-novelty decay to decide when
# additional crawl volume stops paying for itself (the dedup-rate-over-
# time complement of the dedup family's pairwise views). Reuses the
# decontamination family's materialized shingle scratch — one shared
# (doc_id, gh) derivation for all three consumers.
NOVELTY_BATCH = 10


@query(
    "ngram_novelty_by_batch",
    oracle=f"""
WITH tok AS (SELECT doc_id, {H.duck_tokens("text")} AS toks FROM documents),
sh AS (
    SELECT doc_id, unnest({H.duck_shingle_hashes(H.duck_shingles("toks", DECON_NGRAM))}) AS gh
    FROM tok
),
bg AS (SELECT DISTINCT doc_id // {NOVELTY_BATCH} AS batch, gh FROM sh),
fb AS (SELECT gh, min(batch) AS first_batch FROM bg GROUP BY gh)
SELECT CAST(bg.batch AS BIGINT) AS batch,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN fb.first_batch = bg.batch THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(sum(CASE WHEN fb.first_batch = bg.batch THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM bg JOIN fb USING (gh)
GROUP BY bg.batch
""",
)
def ngram_novelty_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal n-gram NOVELTY per crawl batch: bucket the corpus into
    arrival batches of NOVELTY_BATCH docs (doc_id order standing in for
    crawl order), and per batch report how many of its distinct 5-gram
    hashes first appear in that batch — the decaying novelty curve a
    crawl pipeline watches to decide when further crawling mostly
    re-fetches known content. Novelty in exact integer ppm.

    Plan/scale: the (doc_id, gh) explosion is the SHARED decon scratch
    (materialized once — three consumers now); batch
    membership dedupes map-side into (batch, gh); the first-occurrence
    table is one groupBy on the 8-byte hash key (map-side partial
    min), and the novelty join is hash-key equi — linear end to end,
    no pair space anywhere. At 100 TB the first-occurrence table IS
    the maintained crawl index: a new batch joins against it and
    appends its genuinely-new hashes, never rescanning the corpus
    (the dedup_incremental_batch discipline)."""
    sh = _decon_shingle_hashes(spark, sf_dir)
    bg = (
        sh.select(
            F.expr(f"doc_id DIV {NOVELTY_BATCH}").alias("batch"), "gh"
        ).distinct()
    )
    # bg feeds BOTH the first-occurrence table and the novelty probe;
    # without a lineage cut the scan + distinct shuffle plan twice (no
    # ReuseExchange across the join sides). The cut runs the distinct
    # once and both consumers read the stored blocks.
    bg = share(bg, sf_dir, "documents")
    fb = bg.groupBy("gh").agg(F.min("batch").alias("first_batch"))
    return (
        bg.join(fb, "gh")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_batch") == F.col("batch"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
        .select(
            F.col("batch").cast("bigint").alias("batch"),
            "n_shingles",
            "n_new",
            F.expr("CAST(n_new * 1000000 DIV n_shingles AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
    )


# --- deterministic epoch shuffle order (round 13) ----------------------------
# Reproducible training needs a reproducible DATA ORDER: per epoch,
# every document gets a pseudo-random but deterministic position via a
# keyed hash, then positions shard into data-loader files. This row
# materializes that order's audit view — per (epoch, shard): how many
# docs, and the order's first/last doc — so two independent runs (or
# engines) can prove they would feed batches identically. The md5
# coin-flip discipline of dataset_split_assign applied to ORDERING
# instead of assignment.
SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 8
SHUFFLE_RANK_PARTS = 16  # range partitions for the distributed rank


@query(
    "epoch_shuffle_order",
    oracle=f"""
WITH ep AS (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch),
h AS (
    SELECT ep.epoch, d.doc_id,
           {H.duck_hash32("'ep' || ep.epoch || ':' || d.doc_id")} AS hk
    FROM documents d CROSS JOIN ep
),
pos AS (
    SELECT epoch, doc_id, hk,
           row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id) - 1 AS p
    FROM h
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(p % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(p) AS BIGINT) AS min_pos,
       CAST(max(p) AS BIGINT) AS max_pos,
       CAST(sum(doc_id * (p // {SHUFFLE_SHARDS})) AS BIGINT) AS order_digest
FROM pos
GROUP BY epoch, p % {SHUFFLE_SHARDS}
""",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE: per training epoch, order the corpus
    by a keyed md5 hash (epoch in the key — each epoch gets a fresh but
    reproducible permutation), assign global positions, and round-robin
    positions into SHUFFLE_SHARDS data-loader shards. Emits the per-
    (epoch, shard) audit: doc count, position envelope, and an
    order-sensitive digest (sum of doc_id * within-shard index) that
    two runs must reproduce bit-for-bit for their training batches to
    be identical — the reproducible-data-order contract distributed
    training jobs pin before comparing loss curves.

    Determinism: the hash order is total ((hk, doc_id) — no ties left
    to the engine), so positions, shards, and the digest are exact
    integers on both engines.

    Plan/scale: the hash is codegen; the per-epoch global position
    runs the SNM DISTRIBUTED RANK (operators/dedup.py::
    dedup_sorted_neighborhood's two-phase scheme, extended to reset
    per epoch): repartitionByRange on (epoch, hk, doc_id) +
    sortWithinPartitions (the parallel ORDER BY), a lineage cut to
    freeze the sampled boundaries, per-(partition, epoch) counts (a
    bounded control-plane collect of parts x epochs integers) turned
    into per-epoch prefix offsets broadcast back, so position =
    epoch_offset(pid) + local row_number — no single- or few-reducer
    window anywhere, and ranks are partitioning-independent because
    the sort key is a total order. The audit aggregate is
    (epochs x shards)-cardinality with map-side partials."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    ep = spark.range(SHUFFLE_EPOCHS).select(F.col("id").alias("epoch"))
    h = docs.crossJoin(F.broadcast(ep)).select(
        "epoch",
        "doc_id",
        F.expr(
            H.spark_hash32("concat('ep', epoch, ':', doc_id)")
        ).alias("hk"),
    )
    parts = SHUFFLE_RANK_PARTS
    s = share(  # freeze sampled boundaries for counts + ranks
        h.repartitionByRange(parts, F.col("epoch"), F.col("hk"), F.col("doc_id"))
        .sortWithinPartitions("epoch", "hk", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
        sf_dir,
        "documents",
    )
    counts = {
        (r.pid, r.epoch): r.cnt
        for r in s.groupBy("pid", "epoch").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = []
    for epoch in range(SHUFFLE_EPOCHS):
        acc = 0
        for pid in range(parts):
            offsets.append((pid, epoch, acc))
            acc += counts.get((pid, epoch), 0)
    off = spark.createDataFrame(offsets, "pid int, epoch long, off long")
    w = Window.partitionBy("pid", "epoch").orderBy("hk", "doc_id")
    pos = (
        s.join(F.broadcast(off), ["pid", "epoch"])
        .select(
            "epoch",
            "doc_id",
            (F.col("off") + F.row_number().over(w) - 1).alias("p"),
        )
    )
    return (
        pos.groupBy(
            F.col("epoch").cast("bigint").alias("epoch"),
            F.expr(f"CAST(p % {SHUFFLE_SHARDS} AS BIGINT)").alias("shard"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("p").cast("bigint").alias("min_pos"),
            F.max("p").cast("bigint").alias("max_pos"),
            F.expr(
                f"CAST(sum(doc_id * (p DIV {SHUFFLE_SHARDS})) AS BIGINT)"
            ).alias("order_digest"),
        )
    )
