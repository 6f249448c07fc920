"""Parity of the Arrow-batched scan operators against local referees.

``with_ewma`` and ``elo_per_entity`` each run one ``mapInArrow`` kernel:
passthrough columns stay Arrow buffers, the computed column is appended
positionally and leading-window NaN renders as NULL. These tests pin that
against a per-entity pandas/numpy computation outside Spark — same values
(atol=0), same NULL mask, text untouched — on data that exercises NULLs
(leading rows, NaN outcomes) and a metric name that collides with an order
column (the duplicate-projection crash fixed by the dict.fromkeys dedupe).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

KEY = ["conv_id", "ts", "turn_idx"]


def _fixture(seed: int = 41) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp("2026-05-01")
    for c in range(12):
        n = int(rng.integers(1, 50))
        for i in range(n):
            rows.append(
                (
                    f"c{c}",
                    i,
                    "user" if i % 2 == 0 else "assistant",
                    "x" * int(rng.integers(0, 300)),
                    "",
                    base + pd.Timedelta(seconds=c * 7 + i * 60),
                )
            )
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["chars"] = pdf["text"].str.len().astype("float64")
    pdf["outcome"] = rng.integers(0, 2, len(pdf)).astype("float64")
    # NaN outcomes: the scans must carry them exactly (EWM decay over the
    # gap; elo skips the update) — the referees below do the same
    pdf.loc[pdf.sample(frac=0.15, random_state=7).index, "outcome"] = np.nan
    return pdf


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def _ewma_referee(pdf: pd.DataFrame, metrics: tuple[str, ...]) -> pd.DataFrame:
    """Per-entity ``shift(1).ewm(span=10, adjust=False)`` — one plain pandas
    series per conversation, no grouped kernel."""
    ref = _sorted(pdf)
    for m in metrics:
        ref[f"ewma_{m}"] = pd.concat(
            [
                s.shift(1).astype("float64").ewm(span=10, adjust=False).mean()
                for _, s in ref.groupby("conv_id", sort=False)[m]
            ]
        )
    return ref


def _elo_referee(pdf: pd.DataFrame, outcome_col: str) -> pd.DataFrame:
    """``elo._elo_scan`` run on each conversation's ordered outcomes."""
    from nfl_feature_store_spark.operators.elo import DEFAULT_INIT, DEFAULT_K, _elo_scan

    ref = _sorted(pdf)
    ref["elo_pre"] = np.nan
    for _, idx in ref.groupby("conv_id", sort=False).groups.items():
        x = ref.loc[idx, outcome_col].to_numpy(dtype="float64")
        ref.loc[idx, "elo_pre"] = _elo_scan(x, np.full(len(x), DEFAULT_INIT), DEFAULT_K, DEFAULT_INIT)
    return ref


def _assert_frames_equal(a: pd.DataFrame, b: pd.DataFrame, cols: list[str]) -> None:
    a, b = _sorted(a), _sorted(b)
    for c in cols:
        # identical NULL mask (leading-window NaN->NULL claim), then values
        assert (a[c].isna().values == b[c].isna().values).all(), f"{c}: NULL masks differ"
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float),
            rtol=0, atol=0, equal_nan=True, err_msg=c,
        )


def test_ewma_transport_parity(spark):
    from nfl_feature_store_spark.operators.ewma import with_ewma

    pdf = _fixture()
    got = with_ewma(spark.createDataFrame(pdf), metrics=("chars", "outcome")).toPandas()
    assert list(got.columns) == list(pdf.columns) + ["ewma_chars", "ewma_outcome"]
    _assert_frames_equal(got, _ewma_referee(pdf, ("chars", "outcome")), ["ewma_chars", "ewma_outcome"])
    # the text payload rides through the Arrow kernel untouched
    assert (_sorted(got)["text"].values == _sorted(pdf)["text"].values).all()


def test_elo_transport_parity(spark):
    from nfl_feature_store_spark.operators.elo import elo_per_entity

    pdf = _fixture(seed=43)
    got = elo_per_entity(spark.createDataFrame(pdf), outcome_col="outcome").toPandas()
    assert list(got.columns) == list(pdf.columns) + ["elo_pre"]
    _assert_frames_equal(got, _elo_referee(pdf, "outcome"), ["elo_pre"])
    assert (_sorted(got)["text"].values == _sorted(pdf)["text"].values).all()


def test_ewma_metric_coincides_with_order_col(spark):
    """A metric that is ALSO an order column must not crash the kernel's
    projection (round-4 advice: duplicate names in pa.Table.select made
    sub[m] a DataFrame)."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    pdf = _fixture(seed=47)
    sdf = spark.createDataFrame(pdf)
    out = _sorted(with_ewma(sdf, metrics=("turn_idx", "chars")).toPandas())
    ref = _sorted(pdf)
    exp = (
        ref.groupby("conv_id", sort=False)["turn_idx"]
        .apply(lambda s: s.shift(1).ewm(span=10, adjust=False).mean())
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        out["ewma_turn_idx"].to_numpy(dtype=float),
        exp.to_numpy(dtype=float),
        rtol=1e-12,
        equal_nan=True,
    )


def test_elo_outcome_coincides_with_order_col(spark):
    """Same dedupe guarantee for elo_per_entity: ordering by the outcome
    column itself (degenerate but legal) must not produce a duplicate
    projection."""
    from nfl_feature_store_spark.operators.elo import elo_per_entity

    pdf = _fixture(seed=53).dropna(subset=["outcome"])
    sdf = spark.createDataFrame(pdf)
    out = elo_per_entity(
        sdf,
        outcome_col="turn_idx",
        order_cols=("ts", "turn_idx"),
    ).toPandas()
    assert out["elo_pre"].notna().all()
    assert len(out) == len(pdf)


def test_simhash_null_text_matches_empty(spark):
    """Round-4 advice: NULL text must fingerprint exactly like '' (coalesce
    on the Spark side, matching the oracle SQL) for simhash AND shingles."""
    from nfl_feature_store_spark.operators.dedup import minhash_signature, simhash

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [None, "", "hello world"]})
    sdf = spark.createDataFrame(pdf)
    for hash_fn in ("xxhash64", "md5"):
        sh = simhash(sdf, "doc_id", "text", hash_fn=hash_fn).toPandas().set_index("doc_id")
        assert sh.loc[1, "simhash64"] == sh.loc[2, "simhash64"] == 0
        assert sh.loc[1, "n_tokens"] == sh.loc[2, "n_tokens"] == 0
        assert sh.loc[3, "n_tokens"] == 2
        sig = (
            minhash_signature(sdf, "doc_id", "text", hash_fn=hash_fn)
            .toPandas()
            .set_index("id")
        )
        assert list(sig.loc[1, "sig"]) == list(sig.loc[2, "sig"])
        assert all(v is not None for v in sig.loc[1, "sig"])
