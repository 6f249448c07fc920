"""End-to-end point-in-time feature backfill plan.

Composes the engine's operators in the order the reference's lifecycle does
(SURVEY.md §3.4): dedup → turn metrics → sessionize → window families →
EWMA → rank — one declarative DataFrame plan that Catalyst compiles into
(in the ideal physical plan) ONE exchange on hash(conv_id) reused by every
per-entity stage, plus one exchange for the global rank pass.

The reference analog is ``feature_store_runner.main`` →
``make_event_regular_season_feature_store`` (reference
feature_store_runner.py:50-55, src/pipelines/events/event_regular_season_game.py:14-77),
a single-threaded pandas function chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.rank import rank_features
from nfl_feature_store_spark.operators.sessionize import DEFAULT_GAP_S, sessionize
from nfl_feature_store_spark.operators.window_kernel import window_features_ewma_kernel
from nfl_feature_store_spark.operators.windows import FeatureSpec


def backfill_features(
    transcripts: DataFrame,
    spec: FeatureSpec = FeatureSpec(),
    gap_s: int = DEFAULT_GAP_S,
    ewma_span: int | None = 10,
    rank_metric: str | None = "roll10_chars",
    rank_bucket: str = "day",
    dedup: bool = True,
) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) → feature table.

    Output grain: one row per (conv_id, ts, turn_idx) carrying the original
    text (per-turn text equality invariant) plus every strictly-past feature
    family per metric.

    Every window family and the EWMA (``ewma_span=None`` drops it) run in
    ONE ``mapInArrow`` stage (operators/window_kernel.py), bitwise equal to
    ``compile_window_features`` + ``with_ewma`` (pytest-pinned). WindowExec
    pays an interpreted per-function-per-row cost for the ~5 window
    functions per metric; the kernel's NumPy passes amortize across all
    metrics (sf0.1: 0.98s vs 1.59s at width 4, 5.4s vs 74.6s at width 190
    incl. plan build — OPTIMIZATION_r06.md).
    """
    df = transcripts
    if dedup:
        df = dedup_latest(df)
    df = with_turn_metrics(df)
    df = sessionize(df, entity_col=spec.entity_col, gap_s=gap_s)
    # the sessionize output is already hash(entity)-clustered and sorted by
    # (entity, ts, turn), so the kernel adds no exchange or sort.
    # POSITION IS LOAD-BEARING — the kernel must be the LAST per-entity
    # stage: mapInArrow output has unknown partitioning to Catalyst, so any
    # window stage placed after it re-exchanges on the entity
    df = window_features_ewma_kernel(df, spec, ewma_span=ewma_span or None)
    if rank_metric:
        # league-style per-period rank across entities active in the bucket
        df = df.withColumn("__bucket", F.date_trunc(rank_bucket, F.col("ts")))
        df = rank_features(df, [rank_metric], ["__bucket"]).drop("__bucket")
    return df
