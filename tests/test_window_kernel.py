"""Pin the vectorized window+EWMA Arrow kernel (operators/window_kernel.py)
bitwise against the expression path it replaces for wide specs:

* exceptAll-parity (both directions) vs compile_window_features + with_ewma
  on corpora with NULL metrics, negative/large-magnitude metrics,
  multi-session entities and single-row entities;
* identical output schema and column order;
* the pipeline keeps the single hash(conv_id) exchange (mapInArrow over
  the entity-sorted sessionize output — no re-partition), at every width
  and with or without EWMA;
* the kernel's all-valid helpers (step-batched EWMA, unmasked sliding chain
  with boundary repair) equal their row-loop / where-masked references
  bitwise on randomized shapes.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.ewma import with_ewma
from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.operators.window_kernel import (
    ewma_stepbatch,
    sliding_avg_all_valid,
    window_features_ewma_kernel,
)
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features
from nfl_feature_store_spark.plans.pipeline import backfill_features


@pytest.fixture(scope="module")
def corpus(spark):
    from nfl_feature_store_spark.sources.transcripts import gen_transcripts_distributed

    gen = gen_transcripts_distributed(spark, n_convs=800, avg_turns=8, seed=13, partitions=4)
    gen = sessionize(with_turn_metrics(dedup_latest(gen)))
    # NULL injection + a signed large-magnitude metric exercise the exact
    # skip-initialization and accumulation-order semantics
    gen = gen.withColumn(
        "chars",
        F.when(F.xxhash64("conv_id", "turn_idx") % 7 == 0, F.lit(None)).otherwise(F.col("chars")),
    ).withColumn(
        "signed",
        ((F.xxhash64("conv_id", "turn_idx", F.lit(9)) % 2001) - 1000).cast("double") * 1e7,
    )
    return gen.repartition(4, "conv_id").sortWithinPartitions("conv_id", "ts", "turn_idx")


def _expr_path(df, spec, span):
    out = compile_window_features(df, spec)
    if span:
        out = with_ewma(
            out, metrics=spec.metrics, span=span, entity_col=spec.entity_col,
            order_cols=spec.order_cols, presorted=True,
        )
    return out


@pytest.mark.parametrize(
    "spec,span",
    [
        (FeatureSpec(metrics=("chars", "words", "is_tool", "signed")), 10),
        (FeatureSpec(metrics=("chars", "signed"), form_window=None, roll_windows=(5, 10)), None),
        (FeatureSpec(metrics=("chars", "words"), session_anchored=False, lag=False), 10),
    ],
)
def test_kernel_bitwise_parity(corpus, spec, span):
    old = _expr_path(corpus, spec, span)
    new = window_features_ewma_kernel(corpus, spec, ewma_span=span)
    assert old.columns == new.columns
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_kernel_bitwise_parity_all_valid(corpus):
    """Null-free metrics route through the kernel's all-valid fast paths
    (validity from Arrow null_count metadata, vectorized expanding/session,
    step-batched EWMA recursion) — pin those bitwise against expression
    mode too. ``words``/``is_tool``/``signed`` carry no NULLs, so every
    partition takes the fast path — asserted first, so the test fails loudly
    if the corpus ever stops exercising it."""
    spec = FeatureSpec(metrics=("words", "is_tool", "signed"))
    nulls = corpus.select(
        [F.count(F.when(F.col(m).isNull(), 1)).alias(m) for m in spec.metrics]
    ).first()
    assert nulls.asDict() == {m: 0 for m in spec.metrics}, nulls
    old = _expr_path(corpus, spec, 10)
    new = window_features_ewma_kernel(corpus, spec, ewma_span=10)
    assert old.columns == new.columns
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ewma_stepbatch_matches_rowloop():
    """The all-valid EWMA is batched by turn position (round-6); each
    entity's lane must advance through bit-identical updates to the
    reference per-row recursion (pandas adjust=False semantics incl. the
    avg == x equality skip). Randomized shapes: entity lengths 1..60,
    repeated values (integer-valued metrics make equality hits common),
    varied spans."""
    import numpy as np

    for seed, span in [(0, 10), (1, 3), (2, 5), (3, 10)]:
        rng = np.random.default_rng(seed)
        lens = rng.integers(1, 60, size=rng.integers(3, 40))
        n = int(lens.sum())
        M = int(rng.integers(1, 8))
        # small integer values: repeats trigger the equality-skip branch
        X = rng.integers(0, 4, size=(n, M)).astype(np.float64)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        new_ent = np.zeros(n, dtype=bool)
        new_ent[starts] = True
        pos = np.arange(n) - np.maximum.accumulate(np.where(new_ent, np.arange(n), 0))
        L = np.full((n, M), np.nan)
        L[1:] = X[:-1]
        L[new_ent] = np.nan
        alpha = 2.0 / (span + 1.0)
        om = 1.0 - alpha
        den = om + alpha
        # reference: the original row loop
        ref = np.empty((n, M))
        avg = np.empty(M)
        for t in range(n):
            if pos[t] == 0:
                ref[t] = np.nan
                continue
            x = L[t]
            if pos[t] == 1:
                avg = x.copy()
            else:
                upd = (om * avg + alpha * x) / den
                avg = np.where(avg == x, avg, upd)
            ref[t] = avg
        EW = ewma_stepbatch(L, starts, span)
        assert np.array_equal(ref, EW, equal_nan=True), (seed, span)


def test_sliding_unmasked_repair_matches_masked():
    """The all-valid sliding chain runs unmasked adds plus an exact
    boundary-row repair (round-6); it must be bitwise equal to the
    reference where-masked chain. Randomized shapes: entity lengths 1..40,
    k in {2,3,5,10}, negative/large-magnitude and NaN-bearing values (NaN
    is a VALID value on this path and must poison frames identically)."""
    import numpy as np

    for seed, k in [(0, 3), (1, 10), (2, 2), (3, 5), (4, 10)]:
        rng = np.random.default_rng(seed)
        lens = rng.integers(1, 40, size=rng.integers(3, 50))
        n = int(lens.sum())
        M = int(rng.integers(1, 6))
        X = ((rng.integers(0, 2001, size=(n, M)) - 1000) * 1e7).astype(np.float64)
        X[rng.random((n, M)) < 0.02] = np.nan
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        new_ent = np.zeros(n, dtype=bool)
        new_ent[starts] = True
        pos = np.arange(n) - np.maximum.accumulate(np.where(new_ent, np.arange(n), 0))

        # reference: the original where-masked chain
        acc = np.zeros((n, M))
        for j in range(k, 0, -1):
            m1 = pos[j:] >= j
            m2 = pos[j:] >= j + 1
            np.add(acc[j:], X[:-j], out=acc[j:], where=m2[:, None])
            np.copyto(acc[j:], X[:-j], where=(m1 & ~m2)[:, None])
        cnt = np.minimum(pos, k)[:, None]
        with np.errstate(invalid="ignore", divide="ignore"):
            ref = np.where(cnt > 0, acc / cnt, np.nan)

        got = sliding_avg_all_valid(X, pos, k)
        assert np.array_equal(ref, got, equal_nan=True), (seed, k)


def test_kernel_pipeline_single_exchange(spark):
    from nfl_feature_store_spark.sources.transcripts import gen_transcripts_distributed

    metrics = ("chars", "words", "is_tool") + tuple(f"m{i}" for i in range(4))
    raw = gen_transcripts_distributed(spark, n_convs=200, avg_turns=6, seed=5, partitions=4)
    wide = raw.withColumns(
        {f"m{i}": (F.xxhash64("conv_id", F.lit(i)) % 100).cast("double")
         for i in range(4)}
    )
    feats = backfill_features(wide, spec=FeatureSpec(metrics=metrics), rank_metric=None)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["conv_id"], exchanges


def test_backfill_plan_and_validation(corpus):
    """Without EWMA or rank the backfill still runs the window families in
    the kernel, and adds no exchange to its input: the corpus fixture
    already ends in a hash(conv_id) repartition, which dedup, sessionize and
    the kernel all reuse."""
    feats = backfill_features(corpus, rank_metric=None, ewma_span=None)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    pattern = r"Exchange hashpartitioning\((\w+)"
    exchanges = re.findall(pattern, plan)
    assert exchanges == re.findall(pattern, corpus._jdf.queryExecution().executedPlan().toString())
    assert set(exchanges) == {"conv_id"}, exchanges
    with pytest.raises(ValueError, match="duplicates"):
        window_features_ewma_kernel(corpus, FeatureSpec(metrics=("chars", "chars")))
    with pytest.raises(ValueError, match="overlap"):
        window_features_ewma_kernel(corpus, FeatureSpec(metrics=("chars", "conv_id")))


def test_kernel_partition_tripwire(corpus):
    with pytest.raises(Exception, match="max_partition_rows"):
        window_features_ewma_kernel(
            corpus, FeatureSpec(metrics=("chars",)), max_partition_rows=3
        ).write.format("noop").mode("overwrite").save()
