"""Window compiler at reference width (round-3 verdict item 2).

The reference's event store is 476 columns (~190 metrics x families,
SURVEY.md §2.5 W4-W6); the flagship spec compiles 3 metrics. This test
compiles a 59-metric FeatureSpec (the reference's player-stat width,
src/pipelines/players/player_regular_season_game.py:17-18) across ALL
families — lag, form-3, roll-10, expanding, session-avg — and pins the two
properties that die first at that width:

* the physical plan still carries exactly ONE hash(conv_id) exchange shared
  by every window family (wide stacks tempt Catalyst into re-sorting or
  re-partitioning per withColumns batch);
* execution stays green (whole-stage codegen hits JVM 64KB/constant-pool
  limits around this width — Spark must fall back per-operator, not fail).
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import with_turn_metrics
from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features

N_METRICS = 59
FAMILIES = ("last", "form", "roll10", "expanding", "session_avg")


@pytest.fixture(scope="module")
def wide_input(spark, transcripts_sdf):
    """Transcripts + 59 deterministic numeric metrics (the 3 real turn
    metrics plus 56 derived columns standing in for the reference's stat
    inventory).

    Deliberately NOT cached: a mid-pipeline .cache() wraps the upstream in
    an AQE-materialized InMemoryRelation whose output partitioning Spark 4
    does not propagate, costing one re-exchange on top of the window
    stage's — measured here, and why the flagship pipeline composes lazily
    instead of caching between stages. The uncached plan is the production
    shape whose single-exchange property this file pins."""
    df = sessionize(with_turn_metrics(transcripts_sdf))
    extra = {
        f"m{i:02d}": (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
        for i in range(N_METRICS - 3)
    }
    return df.withColumns(extra)


def _wide_spec() -> FeatureSpec:
    metrics = ("chars", "words", "is_tool") + tuple(f"m{i:02d}" for i in range(N_METRICS - 3))
    assert len(metrics) == N_METRICS
    return FeatureSpec(metrics=metrics)


def test_wide_spec_single_entity_exchange(wide_input):
    feats = compile_window_features(wide_input, _wide_spec())
    n_cols = len(feats.columns)
    assert n_cols >= len(wide_input.columns) + N_METRICS * len(FAMILIES)
    feats.count()  # force execution: codegen fallback must not fail the job
    plan = feats._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    # one exchange, on the entity — the session-anchored family's
    # (conv_id, session_id) requirement is satisfied by hash(conv_id)
    # (ClusteredDistribution subset rule); nothing may re-shuffle
    assert exchanges == ["conv_id"], exchanges


def test_wide_spec_values_spot_checked(wide_input):
    """Width must not corrupt semantics: one synthetic metric's lag/roll10
    agree with the pandas referee on a sample conversation."""
    feats = compile_window_features(wide_input, _wide_spec())
    conv = wide_input.select("conv_id").first()["conv_id"]
    got = (
        feats.filter(F.col("conv_id") == conv)
        .select("turn_idx", "ts", "m07", "last_m07", "roll10_m07", "expanding_m07")
        .toPandas()
        .sort_values(["ts", "turn_idx"])
        .reset_index(drop=True)
    )
    x = got["m07"].astype(float)
    exp_last = x.shift(1)
    exp_roll = x.shift(1).rolling(10, min_periods=1).mean()
    exp_expanding = x.shift(1).expanding().mean()
    np.testing.assert_allclose(got["last_m07"], exp_last, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(got["roll10_m07"], exp_roll, rtol=1e-12, equal_nan=True)
    np.testing.assert_allclose(got["expanding_m07"], exp_expanding, rtol=1e-12, equal_nan=True)


def test_wide_spec_with_ewma_stays_one_exchange(wide_input):
    """The referee's wide shape — windows THEN the presorted mapInArrow
    EWMA over all 59 metrics — must add no exchange beyond the window
    stage's hash(conv_id)."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    spec = _wide_spec()
    feats = compile_window_features(wide_input, spec)
    feats = with_ewma(feats, metrics=spec.metrics, span=10, presorted=True)
    assert sum(c.startswith("ewma_") for c in feats.columns) == N_METRICS
    feats.count()
    plan = feats._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["conv_id"], exchanges


N_METRICS_EVENT = 190  # the reference EVENT store: 476 cols ≈ 190 metrics


def test_event_store_width_190_metrics(spark, transcripts_sdf):
    """Round-4 VERDICT item 5 — event-store width. 190 metrics x 5 window
    families + 190 EWMAs ≈ 1140 computed columns: past ~100 window exprs
    JVM codegen cliffs (64KB method bodies, constant-pool pressure) force
    per-operator fallback, and wide withColumns stacks tempt Catalyst into
    re-partitioning per batch. Pins: (a) the plan still carries exactly ONE
    hash(conv_id) exchange end-to-end including the EWMA barrier, (b)
    execution completes green, (c) a spot metric's lag/expanding values
    survive the width bit-exactly."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    df = sessionize(with_turn_metrics(transcripts_sdf))
    extra = {
        f"w{i:03d}": (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
        for i in range(N_METRICS_EVENT - 3)
    }
    wide = df.withColumns(extra)
    metrics = ("chars", "words", "is_tool") + tuple(
        f"w{i:03d}" for i in range(N_METRICS_EVENT - 3)
    )
    spec = FeatureSpec(metrics=metrics)
    feats = compile_window_features(wide, spec)
    feats = with_ewma(feats, metrics=metrics, span=10, presorted=True)
    assert sum(c.startswith("ewma_") for c in feats.columns) == N_METRICS_EVENT
    n_rows = feats.count()  # execution must survive codegen fallback
    assert n_rows == transcripts_sdf.count()
    plan = feats._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["conv_id"], exchanges

    conv = wide.select("conv_id").first()["conv_id"]
    got = (
        feats.filter(F.col("conv_id") == conv)
        .select("turn_idx", "ts", "w123", "last_w123", "expanding_w123", "ewma_w123")
        .toPandas()
        .sort_values(["ts", "turn_idx"])
        .reset_index(drop=True)
    )
    x = got["w123"].astype(float)
    np.testing.assert_allclose(got["last_w123"], x.shift(1), rtol=0, atol=0, equal_nan=True)
    np.testing.assert_allclose(
        got["expanding_w123"], x.shift(1).expanding().mean(), rtol=1e-12, equal_nan=True
    )
    np.testing.assert_allclose(
        got["ewma_w123"],
        x.shift(1).ewm(span=10, adjust=False).mean(),
        rtol=1e-12,
        equal_nan=True,
    )


def test_full_flagship_exactly_two_exchanges(spark, transcripts_sdf):
    """Regression pin for the pipeline's exchange budget: the COMPLETE
    flagship (dedup -> metrics -> sessionize -> windows -> EWMA -> rank)
    executes with exactly one hash(conv_id) exchange and one
    hash(__bucket) exchange. Catches any stage reordering that puts a
    window after the mapInPandas barrier (whose output partitioning is
    unknown to Catalyst and forces a third full-table shuffle — measured
    when EWMA was experimentally moved before the window stage)."""
    from nfl_feature_store_spark.plans.pipeline import backfill_features

    feats = backfill_features(transcripts_sdf)
    feats.count()
    plan = feats._jdf.queryExecution().executedPlan().toString()
    keys = sorted(
        e.split(",")[0].split("#")[0]
        for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    )
    assert keys == ["__bucket", "conv_id"], keys
