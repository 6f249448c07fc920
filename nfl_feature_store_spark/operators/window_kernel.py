"""Vectorized Arrow kernel for the full window-family stack + EWMA.

Why this exists (guide §4.2 "do the heavy lifting in native code"): the
expression-mode compiler (operators/windows.py) emits ~5 window functions
per metric, and Spark's WindowExec evaluates every window function with a
per-function-per-row interpreted-processor cost. At the reference's
190-metric event-store width that is ~950 window functions — measured 464
CPU-seconds for a 100k-row sf0.1 backfill (~24 s wall on 32 cores), all
fixed evaluator overhead, no spill. This kernel computes the identical
features with NumPy shifted-array algebra plus one sequential scan, and
the EWMA in the same pass, inside ONE ``mapInArrow`` stage — so every spec
crosses the Python boundary once, with only base+metrics as input. It is
the production path of ``plans/pipeline.backfill_features`` at every width;
``compile_window_features`` + ``with_ewma`` remain as its referee.

Bitwise contract: every output equals expression mode bit-for-bit — pinned
by tests/test_window_kernel.py via ``exceptAll`` on corpora with NULL
metrics, multi-session entities and single-row entities, and by randomized
trials of the module-level all-valid helpers below against row-loop /
where-masked references. The implementation preserves Spark's exact
accumulation semantics:

* sliding frames (form/roll) sum the valid values oldest-to-newest with
  first-valid initialization (no ``0.0 +`` seeding, so ``-0.0`` and NaN
  propagate exactly as Spark's SlidingWindowFunctionFrame does);
* running sums/counts and the two-anchor session bases use one sequential
  pass with the same first-valid initialization;
* EWMA replicates pandas' adjust=False recursion exactly (all-valid
  step-batched path) or calls the same pandas grouped-cython EWM as
  ``operators/ewma.with_ewma`` (q28-oracle-pinned) on null-bearing data.

Known representational caveats, shared with ``with_ewma``: a literal float
NaN VALUE in a metric column is indistinguishable from NULL on the pandas
EWM path (the engine's metrics are never literal NaN), and outputs render
NaN as NULL (``from_pandas=True``).

Scale notes: the kernel is partition-at-a-time over the same
hash(entity)-clustered, entity-sorted layout every window family already
requires — no new exchange (plan-asserted in tests/test_window_kernel.py). Peak
memory per task is rows_per_partition x (metrics x ~9) float64 columns; the
``max_partition_rows`` tripwire (same contract as with_ewma) fails fast
with guidance instead of OOMing on a pathologically hot entity.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nfl_feature_store_spark.operators.windows import FeatureSpec


def sliding_avg_all_valid(X: np.ndarray, pos: np.ndarray, k: int) -> np.ndarray:
    """Mean of the ``k`` strictly-prior rows of each row's entity, for a
    partition whose ``X`` (rows x metrics) carries no NULLs.

    Row i's frame rows are i-k..i-1 clipped to the entity, summed
    oldest-to-newest. Full-frame rows (pos >= k+1) get exactly the unmasked
    j-descending adds below — the same op sequence a where-masked chain
    runs for them (adds onto 0.0, oldest term first). Rows with pos <= k
    would pick up cross-entity garbage from the unmasked adds, so their
    chains are recomputed exactly afterwards (copy-init at the oldest
    in-entity term, then ascending adds — the op sequence the masked
    copyto/add pair produces). Bitwise identity pinned by the randomized
    masked-vs-repair trial in tests/test_window_kernel.py; the unmasked
    adds run ~30% faster than where-masked ones (round-6 §1.7).
    """
    n, M = X.shape
    acc = np.zeros((n, M), dtype=np.float64)
    for j in range(k, 0, -1):  # frame iterates ascending row order
        np.add(acc[j:], X[:-j], out=acc[j:])
    b = np.nonzero((pos >= 1) & (pos <= k))[0]
    if b.size:
        accb = X[b - pos[b]].copy()
        for d in range(1, k):
            sel = pos[b] >= d + 1
            rows = b[sel]
            accb[sel] += X[rows - (pos[rows] - d)]
        acc[b] = accb
    cnt = np.minimum(pos, k)[:, None]
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(cnt > 0, acc / cnt, np.nan)


def ewma_stepbatch(L: np.ndarray, starts: np.ndarray, span: int) -> np.ndarray:
    """pandas ``ewm(span, adjust=False).mean()`` per entity over the lag-1
    matrix ``L`` (rows x metrics, NaN exactly at each entity's first row,
    no other NaN); ``starts`` are the entities' first-row indices.

    The recursion ``avg = ((1-a)*avg + a*x) / ((1-a)+a)`` with pandas'
    equality skip (``avg == x`` keeps avg), seeded at the entity's first
    lagged value. Batched by TURN POSITION, not by row (round-6: a per-row
    loop paid ~7 numpy dispatches per row — 0.20s of a 1.6s partition at
    width 190; this form pays them per position, max-entity-length
    iterations total). Each entity's lane in AVG advances through exactly
    the same update sequence as the row loop — same operands, same
    elementwise ops — so results stay bitwise identical (pinned by the
    parity suites and the randomized rowloop-vs-stepbatch trials in
    tests/test_window_kernel.py). Exists because pandas' GROUPED ewm pays
    ~10ms per (group x column) of window-bounds bookkeeping (measured 1.9s
    of a 3s kernel at width 190).
    """
    n, M = L.shape
    alpha = 2.0 / (span + 1.0)
    om = 1.0 - alpha
    den = om + alpha  # pandas divides by (old_wt + new_wt), not 1.0
    lens = np.diff(np.append(starts, n))
    maxlen = int(lens.max()) if n else 0
    EW = np.empty((n, M), dtype=np.float64)
    EW[starts] = np.nan  # pos==0 rows have no prior history
    AVG = np.empty((len(starts), M), dtype=np.float64)
    for p in range(1, maxlen):
        act = lens > p
        rows = starts[act] + p
        x = L[rows]
        if p == 1:
            new_avg = x
        else:
            a_act = AVG[act]
            upd = (om * a_act + alpha * x) / den
            # pandas' adjust=False equality skip: avg == x keeps avg
            new_avg = np.where(a_act == x, a_act, upd)
        AVG[act] = new_avg
        EW[rows] = new_avg
    return EW


def _family_names(spec: FeatureSpec) -> list[str]:
    names: list[str] = []
    for m in spec.metrics:
        if spec.lag:
            names.append(f"last_{m}")
        if spec.form_window:
            names.append(f"form_{m}")
        for k in spec.roll_windows:
            names.append(f"roll{k}_{m}")
        if spec.expanding:
            names.append(f"expanding_{m}")
    if spec.session_anchored:
        names += [f"session_avg_{m}" for m in spec.metrics]
    return names


def window_features_ewma_kernel(
    df: DataFrame,
    spec: FeatureSpec = FeatureSpec(),
    ewma_span: int | None = 10,
    ewma_prefix: str = "ewma_",
    max_partition_rows: int | None = None,
) -> DataFrame:
    """Attach every configured window family (and optionally ``ewma_{m}``)
    in ONE ``mapInArrow`` stage — output schema and values identical to
    ``compile_window_features`` (+ ``with_ewma``).

    ``df`` must already be clustered by ``spec.entity_col`` and sorted
    within partitions by (entity, order_cols) — what sessionize's window
    stage leaves behind; the kernel adds no exchange or sort of its own."""
    metrics = list(spec.metrics)
    if len(set(metrics)) != len(metrics):
        raise ValueError(f"window kernel metrics contains duplicates: {metrics}")
    keys = [spec.entity_col, *spec.order_cols] + (
        [spec.session_col] if spec.session_anchored else []
    )
    overlap = set(metrics) & set(keys)
    if overlap:
        raise ValueError(
            f"window kernel metrics {sorted(overlap)} overlap the key columns {keys}"
        )
    out_names = _family_names(spec)
    if ewma_span:
        out_names += [f"{ewma_prefix}{m}" for m in metrics]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(n, T.DoubleType(), True) for n in out_names]
    )
    order = list(spec.order_cols)
    entity_col, session_col = spec.entity_col, spec.session_col
    session_anchored = spec.session_anchored
    lag_on, form_k, roll_ks, expanding_on = (
        spec.lag,
        spec.form_window,
        list(spec.roll_windows),
        spec.expanding,
    )

    def kernel(batches) -> Iterator:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        blist = []
        total = 0
        for b in batches:
            total += b.num_rows
            if max_partition_rows is not None and total > max_partition_rows:
                raise ValueError(
                    f"window kernel partition holds > max_partition_rows="
                    f"{max_partition_rows} rows; a hot entity this size belongs in "
                    "operators.salted, or raise spark.sql.shuffle.partitions"
                )
            blist.append(b)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        n = tbl.num_rows
        M = len(metrics)

        need = list(dict.fromkeys([entity_col] + order + ([session_col] if session_anchored else [])))
        sub = tbl.select(need).to_pandas()

        # values as float64 with NaN at NULLs + the true Arrow null masks
        # (a NaN VALUE stays "valid" and poisons sums, exactly like Spark).
        # Arrow tracks null_count per column, so a null-free partition is
        # provable from metadata alone — skip materializing the 190-column
        # VALID matrix entirely in that (engine-typical) case.
        X = np.empty((n, M), dtype=np.float64)
        cast_cols = []
        for m in metrics:
            col = tbl.column(m)
            if col.type != pa.float64():
                col = pc.cast(col, pa.float64())
            cast_cols.append(col)
        all_valid = all(col.null_count == 0 for col in cast_cols)
        VALID = None if all_valid else np.empty((n, M), dtype=bool)
        for j, col in enumerate(cast_cols):
            X[:, j] = col.to_numpy(zero_copy_only=False)
            if VALID is not None:
                VALID[:, j] = ~pc.is_null(col).to_numpy(zero_copy_only=False)

        ent = sub[entity_col].to_numpy()
        new_ent = np.empty(n, dtype=bool)
        new_ent[0] = True
        new_ent[1:] = ent[1:] != ent[:-1]
        # rows since the entity's first row (bounds which shifts stay in-entity)
        pos = np.arange(n) - np.maximum.accumulate(np.where(new_ent, np.arange(n), 0))
        # fully-non-null partitions (the engine's metrics in practice) take
        # vectorized fast paths: validity masks collapse to the 1D ``pos``
        # bound and the sliding chains run in-place on array VIEWS instead
        # of allocating shifted copies — same arithmetic, same order

        out: dict[str, np.ndarray] = {}

        def emit(fmt: str, A: np.ndarray) -> None:
            # one contiguous transpose per family matrix, then row slices:
            # building 1000+ output Arrow arrays from per-COLUMN strided
            # views re-walks the row-major matrix once per metric (profiled
            # 0.66s/partition at width 190); the transposed copy pays the
            # traffic once and every pa.array source is contiguous
            AT = np.ascontiguousarray(A.T)
            for j, m in enumerate(metrics):
                out[fmt.format(m=m)] = AT[j]

        def shifted(arr: np.ndarray, j: int) -> np.ndarray:
            s = np.empty_like(arr)
            s[j:] = arr[:-j] if j else arr
            s[:j] = 0
            return s

        # ---- lag-1 family (also the EWMA input series)
        L = np.full((n, M), np.nan)
        L[1:] = X[:-1]
        if all_valid:
            L[new_ent] = np.nan
        else:
            V1 = shifted(VALID, 1) & (pos >= 1)[:, None]
            L[~V1] = np.nan
        if lag_on:
            emit("last_{m}", L)

        # ---- sliding frames: oldest-to-newest chain with first-valid init
        def sliding_avg(k: int) -> np.ndarray:
            if all_valid:
                return sliding_avg_all_valid(X, pos, k)
            acc = np.zeros((n, M), dtype=np.float64)
            init = np.zeros((n, M), dtype=bool)
            cnt = np.zeros((n, M), dtype=np.int64)
            for j in range(k, 0, -1):  # frame iterates ascending row order
                v = shifted(VALID, j) & (pos >= j)[:, None]
                xs = shifted(X, j)
                acc = np.where(v, np.where(init, acc + xs, xs), acc)
                init |= v
                cnt += v
            with np.errstate(invalid="ignore", divide="ignore"):
                return np.where(cnt > 0, acc / cnt, np.nan)

        if form_k:
            emit("form_{m}", sliding_avg(form_k))
        for k in roll_ks:
            emit("roll" + str(k) + "_{m}", sliding_avg(k))

        # ---- sequential pass: expanding sums/counts + two-anchor session
        # bases. Same first-valid initialization as Spark's Sum aggregate.
        if expanding_on or session_anchored:
            if session_anchored:
                sess = sub[session_col].to_numpy()
                isf = new_ent.copy()
                isf[1:] |= sess[1:] != sess[:-1]
            if all_valid:
                # Vectorized per ENTITY, not per row (round-6: the row loop
                # cost ~20us/row of Python dispatch at width 190). Bitwise
                # identity holds because np.cumsum accumulates strictly
                # left-to-right within a segment — the same add order as
                # the row loop — and each entity's cumsum starts fresh
                # (never a global-cumsum-minus-offset, which would round
                # differently).
                ent_starts = np.nonzero(new_ent)[0]
                bounds = np.append(ent_starts, n)
                sincl = np.empty((n, M), dtype=np.float64)
                for a, b in zip(bounds[:-1], bounds[1:]):
                    sincl[a] = 0.0
                    if b - a > 1:
                        np.cumsum(X[a : b - 1], axis=0, out=sincl[a + 1 : b])
                cincl = pos[:, None]  # all valid: count of priors == pos
                if expanding_on:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        E = np.where(cincl > 0, sincl / cincl, np.nan)
                    emit("expanding_{m}", E)
                if session_anchored:
                    # boundary rows (every entity start is one); the base
                    # recorded at row t is the value set at the latest
                    # boundary BEFORE t for boundary rows (the two-anchor
                    # prior-period rule) and AT OR BEFORE t otherwise —
                    # exactly what the row loop's record-then-update did
                    B = np.nonzero(isf)[0]
                    lag_ok = pos[B] >= 1
                    bs_vals = sincl[B] - np.where(
                        lag_ok[:, None], X[np.maximum(B - 1, 0)], 0.0
                    )
                    bc_vals = (pos[B] - lag_ok).astype(np.float64)
                    r = np.cumsum(isf)  # 1-based boundary ordinal at each row
                    idx = r - 1 - isf   # loop semantics: boundaries record the PRIOR base
                    # a row must never anchor into the previous entity:
                    # its minimum ordinal is its own entity's first boundary
                    min_idx = (r[ent_starts] - 1)[np.cumsum(new_ent) - 1]
                    ok = idx >= min_idx
                    safe = np.maximum(idx, 0)
                    base_s = np.where(ok[:, None], bs_vals[safe], np.nan)
                    base_c = np.where(ok, bc_vals[safe], np.nan)[:, None]
                    num = sincl - np.where(np.isnan(base_s), 0.0, base_s)
                    den = cincl - np.where(np.isnan(base_c), 0.0, base_c)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        S = np.where(den > 0, num / den, np.nan)
                    emit("session_avg_{m}", S)
            else:
                sincl = np.empty((n, M), dtype=np.float64)   # sum of prior valids (0.0-coalesced)
                cincl = np.empty((n, M), dtype=np.int64)     # count of prior valids
                if session_anchored:
                    base_s = np.empty((n, M), dtype=np.float64)
                    base_c = np.empty((n, M), dtype=np.float64)
                acc = np.zeros(M, dtype=np.float64)
                cnt = np.zeros(M, dtype=np.int64)
                bs_cur = np.full(M, np.nan)
                bc_cur = np.full(M, np.nan)
                for t in range(n):
                    if new_ent[t]:
                        acc = np.zeros(M, dtype=np.float64)
                        cnt = np.zeros(M, dtype=np.int64)
                        bs_cur = np.full(M, np.nan)
                        bc_cur = np.full(M, np.nan)
                    sincl[t] = acc
                    cincl[t] = cnt
                    if session_anchored:
                        base_s[t] = bs_cur
                        base_c[t] = bc_cur
                        if isf[t]:
                            # sexcl at the session-start row: prior sum minus
                            # the 0.0-coalesced lag. Lag VALIDITY (not
                            # NaN-ness: a literal-NaN lag is valid and must
                            # poison the base, as in Spark) decides the
                            # coalesce and the count.
                            xv = np.where(V1[t], L[t], 0.0)
                            bs_cur = acc - xv
                            bc_cur = (cnt - V1[t]).astype(np.float64)
                    v = VALID[t]
                    first = cnt == 0
                    acc = np.where(v, np.where(first, X[t], acc + X[t]), acc)
                    cnt = cnt + v
                if expanding_on:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        E = np.where(cincl > 0, sincl / cincl, np.nan)
                    emit("expanding_{m}", E)
                if session_anchored:
                    num = sincl - np.where(np.isnan(base_s), 0.0, base_s)
                    den = cincl - np.where(np.isnan(base_c), 0.0, base_c)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        S = np.where(den > 0, num / den, np.nan)
                    emit("session_avg_{m}", S)

        # ---- EWMA. Two paths, bit-identical (parity-pinned):
        #
        # * all-valid: ``ewma_stepbatch``, pandas' adjust=False recursion
        #   replicated as numpy vector ops over all metrics;
        # * null-bearing (or literal-NaN) partitions: the original pandas
        #   grouped-cython call, whose NaN semantics are the contract.
        if ewma_span and all_valid and not np.isnan(X).any():
            emit(ewma_prefix + "{m}", ewma_stepbatch(L, np.nonzero(new_ent)[0], ewma_span))
        elif ewma_span:
            codes = np.cumsum(new_ent)
            gkey = pd.Series(codes)
            ewm = (
                pd.DataFrame({m: L[:, j] for j, m in enumerate(metrics)})
                .groupby(gkey, sort=False, dropna=False)
                .ewm(span=ewma_span, adjust=False)
                .mean()
            )
            # group codes ascend with the rows (entity-sorted input), so
            # groupby(sort=False) keeps row order: the frame already aligns
            # positionally
            emit(ewma_prefix + "{m}", ewm.to_numpy())

        # ONE table construction: append_column per output column is
        # O(cols^2) metadata churn at 1000+ columns
        res = pa.Table.from_arrays(
            [tbl.column(i) for i in range(tbl.num_columns)]
            + [pa.array(out[name], type=pa.float64(), from_pandas=True) for name in out_names],
            names=list(tbl.column_names) + list(out_names),
        )
        yield from res.to_batches()

    return df.mapInArrow(kernel, schema=out_schema)
