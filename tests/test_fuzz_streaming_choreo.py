"""Seeded fuzz over the MULTI-BATCH streaming choreographies (r11
verdict item 7): the late-drop / update / complete rows depend on
mtime-ordered batch admission and watermark arithmetic, so a seed
family perturbs the batch SPLIT points, the replayed day range, and the
watermark horizon — while keeping the expected output derivable from
the same batch frame — to catch one-batch-behind regressions across
Spark versions. Every drill reuses the production stager, reader and
drain (plans/ingest.py::_stage_chunks, streaming/daily.py::
read_events_stream and drain) and compares the sink's exact row
multiset against the batch-derived truth."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from dend_covid19_spark.catalog import load_table
from dend_covid19_spark.plans.ingest import _day_chunks, _stage_chunks
from dend_covid19_spark.streaming.daily import drain, read_events_stream

from conftest import SF_DIR

SEEDS = [67, 71]


def _day_span(ev):
    row = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    return row.lo, row.hi


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_late_drop_choreography(spark, tmp_path, seed):
    """Seeded (watermark horizon, replay range, extra corpus split):
    the drained append output must equal the batch aggregate restricted
    to watermark-closed day windows, for every parameterization — the
    one-batch-behind filter lag must never leak replayed late days into
    the sink."""
    rng = random.Random(seed)
    ev = load_table(spark, "events", SF_DIR).select("ts", "event_id", "value")
    lo, hi = _day_span(ev)
    span_days = (hi - lo).days
    assert span_days >= 10, "fixture expects a multi-week corpus"
    wm_days = rng.choice([3, 4, 5, 6])
    # replay strictly behind the final watermark: last replayed day ends
    # >= 2 days before (hi - wm)
    max_replay = span_days - wm_days - 3
    replay_days = rng.randint(1, max(1, max_replay))
    replay_last = lo + __import__("datetime").timedelta(days=replay_days)
    # perturb the batch split: the corpus itself arrives as TWO files
    # split at a seeded day (both still precede the tick batch)
    corpus_split = lo + __import__("datetime").timedelta(
        days=rng.randint(1, span_days - 1)
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    d = F.to_date("ts")
    mx = ev.agg(F.max("ts").alias("m"))
    chunks = [
        ev.where(d <= F.lit(str(corpus_split))),
        ev.where(d > F.lit(str(corpus_split))),
        ev.join(F.broadcast(mx), ev.ts == F.col("m")).drop("m"),  # the tick
        ev.where(d <= F.lit(str(replay_last))),  # the late replay
    ]
    _stage_chunks(chunks, str(tmp_path), src)

    sink = f"fuzz_late_{seed}"
    out = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", f"{wm_days} days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("value_sum"),
        )
        .select(F.to_date("w.start").alias("day"), "n_events", "value_sum")
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode("append")
    drain(spark, writer, str(tmp_path / "ckpt"), src)

    got = {
        (r.day, r.n_events, r.value_sum) for r in spark.table(sink).collect()
    }
    # batch truth: each event counted ONCE, windows the final watermark
    # closed (day + 1 day <= max_ts - wm_days)
    truth_df = (
        ev.crossJoin(F.broadcast(mx))
        .where(
            F.to_date("ts") + F.expr("INTERVAL 1 DAY")
            <= F.col("m") - F.expr(f"INTERVAL {wm_days} DAYS")
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("value_sum"),
        )
    )
    truth = {(r.day, r.n_events, r.value_sum) for r in truth_df.collect()}
    assert got == truth, (
        f"seed={seed} wm={wm_days}d replay<= {replay_last} split={corpus_split}: "
        f"sink != batch truth (got {len(got)} rows, want {len(truth)})"
    )
    assert got, "vacuous drill: no watermark-closed windows"


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_update_and_complete_modes(spark, tmp_path, seed):
    """Seeded batch split for the output-mode rows: UPDATE's sink must
    accumulate exactly (batch-1 prefix counts for early types) +
    (final totals for types batch 2 touched); COMPLETE's sink must hold
    exactly the final totals — for every split point."""
    rng = random.Random(seed * 31)
    ev = load_table(spark, "events", SF_DIR).select("ts", "event_type")
    lo, hi = _day_span(ev)
    split = lo + __import__("datetime").timedelta(
        days=rng.randint(1, (hi - lo).days - 1)
    )
    d = F.to_date("ts")
    early = ev.where(d <= F.lit(str(split)))
    late = ev.where(d > F.lit(str(split)))

    early_counts = {
        (r.event_type, r.n) for r in
        early.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        (r.event_type, r.n) for r in
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    late_types = {r.event_type for r in late.select("event_type").distinct().collect()}
    assert late_types and early_counts, f"degenerate split {split}"

    for mode in ("update", "complete"):
        src = str(tmp_path / f"src_{mode}")
        os.makedirs(src)
        _stage_chunks([early, late], str(tmp_path / f"stage_{mode}"), src)
        sink = f"fuzz_{mode}_{seed}"
        out = (
            read_events_stream(spark, src, max_files_per_trigger=1)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        writer = out.writeStream.format("memory").queryName(sink).outputMode(mode)
        drain(spark, writer, str(tmp_path / f"ckpt_{mode}"), src)
        got = sorted(
            (r.event_type, r.n_events) for r in spark.table(sink).collect()
        )
        if mode == "update":
            want = sorted(
                list(early_counts)
                + [(t, n) for (t, n) in totals if t in late_types]
            )
        else:
            want = sorted(totals)
        assert got == want, f"seed={seed} split={split} mode={mode}: {got} != {want}"


@pytest.mark.parametrize("seed", [73, 79])
def test_fuzz_funnel_state_cuts(spark, tmp_path, seed):
    """Seeded CHRONOLOGICAL cut points for the stateful funnel (r13):
    split the corpus into 2-4 day-aligned micro-batches at random
    boundaries and drain through funnel_stateful — the per-user (stage,
    stage_ts) state must carry across every cut so the deepest-stage
    histogram equals the batch fold's (stages 1-3), for every
    choreography. Catches state-schema drift, a lost window gate at a
    batch boundary, or an in-batch sort that no longer matches the
    batch total order."""
    import datetime

    from dend_covid19_spark.plans.timeseries import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_MIN,
        funnel_stages_over,
    )
    from dend_covid19_spark.streaming.stateful import run_funnel_available_now

    rng = random.Random(seed * 17)
    ev = load_table(spark, "events", SF_DIR).select(
        "user_id", "ts", "event_id", "event_type"
    )
    lo, hi = _day_span(ev)
    n_cuts = rng.randint(1, 3)
    cuts = sorted(
        rng.sample(range(1, (hi - lo).days), n_cuts)
    )
    days = [str(lo + datetime.timedelta(days=c)) for c in cuts]
    src = str(tmp_path / "src")
    os.makedirs(src)
    _stage_chunks(_day_chunks(ev, days), str(tmp_path), src)

    sink = f"fuzz_funnel_{seed}"
    run_funnel_available_now(
        spark,
        src,
        str(tmp_path / "ckpt"),
        FUNNEL_STAGES,
        FUNNEL_WINDOW_MIN * 60 * 1_000_000,
        sink_table=sink,
        max_files_per_trigger=1,
    )
    got = sorted(
        (r.deepest_stage, r.n)
        for r in spark.table(sink)
        .groupBy("user_id")
        .agg(F.max("stage").alias("deepest_stage"))
        .groupBy("deepest_stage")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = sorted(
        (r.stage, r.n_users)
        for r in funnel_stages_over(ev).where(F.col("stage") > 0).collect()
    )
    assert got == want, f"seed={seed} cuts={cuts}: {got} != {want}"
