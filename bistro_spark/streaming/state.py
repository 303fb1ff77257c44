"""Order-dependent accumulates — the accu folds a hash aggregate cannot
express.

The reference's accu lambda folds facts in ARRIVAL (row-id) order
(``core/.../core/ColumnDefinitionAccu.java#evaluate`` iterates the added
span in id order), so non-commutative folds (EWMA, last-value,
state-machine CEP) are well-defined there. Spark's agg() is unordered, so
these route through grouped-map pandas (batch) or
``applyInPandasWithState`` (streaming), ordered by the lineage offset
``batch_ofs`` that our sources carry (the Bistro row-id analog).

Everything is Arrow-batched and vectorized inside the group (numpy closed
forms, no per-row Python loops) per the input_hint.

Scale: state is one row per group key; groups are hash-partitioned so the
stateful stage scales horizontally. A skewed group key should be salted
only if the fold is decomposable — EWMA is (exponent algebra below), a
general CEP is not; that trade-off is inherent, not Spark-specific.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _ewma_update(acc: float | None, xs: np.ndarray, alpha: float) -> float:
    """Fold EWMA over xs in order, starting from acc — closed form:
    acc*(1-a)^n + a * sum((1-a)^(n-1-i) * x_i), vectorized."""
    n = len(xs)
    if n == 0:
        return acc if acc is not None else float("nan")
    w = (1 - alpha) ** np.arange(n - 1, -1, -1, dtype=np.float64)
    s = float(alpha * np.dot(w, xs))
    if acc is None:
        # first observation seeds the average (pandas ewm adjust=False
        # convention): acc = x_0, then fold the rest
        acc = float(xs[0])
        if n == 1:
            return acc
        w = (1 - alpha) ** np.arange(n - 2, -1, -1, dtype=np.float64)
        return float(acc * (1 - alpha) ** (n - 1) + alpha * np.dot(w, xs[1:]))
    return float(acc * (1 - alpha) ** n + s)


def ewma_batch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_col: str = "batch_ofs",
    alpha: float = 0.1,
) -> DataFrame:
    """Batch order-dependent accu: EWMA per group over arrival order.
    applyInPandas per group; inside the group a numpy closed form."""
    in_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys) + ", ewma double, n long"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        xs = pdf[value_col].to_numpy(dtype=np.float64)
        acc = _ewma_update(None, xs, alpha)
        return pd.DataFrame(
            {**{k: [pdf[k].iloc[0]] for k in keys}, "ewma": [acc], "n": [len(xs)]}
        )

    return df.groupBy(*keys).applyInPandas(fold, out_schema)


def ewma_stream(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_col: str = "batch_ofs",
    alpha: float = 0.1,
) -> DataFrame:
    """Streaming order-dependent accu via applyInPandasWithState: state =
    (ewma, n); each micro-batch folds its (order-sorted) rows into the
    state — exactly the reference's incremental accu over the added span.
    Emits the running value per group per batch (update semantics)."""
    in_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys) + ", ewma double, n long"
    )
    state_schema = "ewma double, n long"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            acc, n = state.get
        else:
            acc, n = None, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col)
            xs = pdf[value_col].to_numpy(dtype=np.float64)
            acc = _ewma_update(acc, xs, alpha)
            n += len(xs)
        state.update((acc, n))
        yield pd.DataFrame(
            {**{k: [key[i]] for i, k in enumerate(keys)}, "ewma": [acc], "n": [n]}
        )

    return df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _mono_push(ords: list, vals: list, o: int, v: float, is_min: bool) -> int:
    """Push (o, v) onto a monotonic deque tail, popping dominated entries
    (for a min-deque: any tail value ≥ v can never be the window minimum
    once v is present and younger). Returns the number of pops — each
    element is pushed once and popped at most once over its lifetime, so
    total work is O(elements seen), i.e. O(delta) amortized per batch."""
    pops = 0
    while vals and (vals[-1] >= v if is_min else vals[-1] <= v):
        vals.pop()
        ords.pop()
        pops += 1
    ords.append(o)
    vals.append(v)
    return pops


def _mono_evict(ords: list, vals: list, cutoff: int) -> int:
    """Drop deque-front entries older than the retention cutoff (their
    elements left the FIFO window). Returns the number of drops."""
    i = 0
    while i < len(ords) and ords[i] < cutoff:
        i += 1
    del ords[:i]
    del vals[:i]
    return i


def _mono_merge_batch(dq_ords, dq_vals, b_ords, b_vals, is_min: bool):
    """Vectorized equivalent of _mono_push-ing every batch element in
    order (no per-row Python, per the input_hint): a batch element
    survives in the deque iff it is a STRICT running extremum from the
    batch's right edge (ties lose to the later element — same semantics
    as _mono_push's >= / <= tail pop), and the old deque keeps only its
    prefix strictly beyond the batch's own extremum."""
    if len(b_vals) == 0:
        return dq_ords, dq_vals
    if is_min:
        later = np.concatenate(
            [np.minimum.accumulate(b_vals[::-1])[::-1][1:], [np.inf]]
        )
        keep, old_keep = b_vals < later, dq_vals < b_vals.min()
    else:
        later = np.concatenate(
            [np.maximum.accumulate(b_vals[::-1])[::-1][1:], [-np.inf]]
        )
        keep, old_keep = b_vals > later, dq_vals > b_vals.max()
    return (
        np.concatenate([dq_ords[old_keep], b_ords[keep]]),
        np.concatenate([dq_vals[old_keep], b_vals[keep]]),
    )


def fifo_window_stream(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    max_len: int,
    order_col: str = "batch_ofs",
) -> DataFrame:
    """Streaming count-based FIFO retention — the ActionRemove max-length
    eviction (``server/.../actions/ActionRemove.java``) as a TRUE streaming
    operator, which Structured Streaming's windows cannot express (they are
    time-based only).

    Per group key, state = the last ``max_len`` values in arrival order
    (``order_col``) PLUS running aggregates: sum maintained by
    add-delta/subtract-evicted, min/max by monotonic deques (front = the
    window extremum; push pops dominated tails, evict pops expired
    fronts — amortized O(1) per element, so per-batch AGGREGATION work is
    ∝ |delta| + |evicted|, never a scan of the retained window). The
    value buffer is still retained (eviction membership needs it),
    bounding state by groups × max_len. Caveat: the running sum
    accumulates float drift vs recompute over very long runs (parity is
    asserted to 1e-6).

    The reference's max-length queue is per-table and single-threaded; a
    keyed state is the distributed generalization — pass a constant key
    column to reproduce the reference's exact per-table semantics (at the
    cost of one state partition, the same serialization point the
    reference's worker thread is)."""
    in_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys)
        + ", n long, sum_val double, min_val double, max_val double"
    )
    state_schema = (
        "ords array<long>, vals array<double>, run_sum double, "
        "mn_ords array<long>, mn_vals array<double>, "
        "mx_ords array<long>, mx_vals array<double>"
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            s_ords, s_vals, run_sum, mn_o, mn_v, mx_o, mx_v = state.get
            ords = np.asarray(s_ords, dtype=np.int64)
            vals = np.asarray(s_vals, dtype=np.float64)
            mn_o, mn_v = (
                np.asarray(mn_o, dtype=np.int64),
                np.asarray(mn_v, dtype=np.float64),
            )
            mx_o, mx_v = (
                np.asarray(mx_o, dtype=np.int64),
                np.asarray(mx_v, dtype=np.float64),
            )
        else:
            ords = np.empty(0, dtype=np.int64)
            vals = np.empty(0, dtype=np.float64)
            run_sum = 0.0
            mn_o = mx_o = np.empty(0, dtype=np.int64)
            mn_v = mx_v = np.empty(0, dtype=np.float64)
        for pdf in pdfs:
            pdf = pdf.sort_values(order_col)
            b_ords = pdf[order_col].to_numpy(dtype=np.int64)
            b_vals = pdf[value_col].to_numpy(dtype=np.float64)
            ords = np.concatenate([ords, b_ords])
            vals = np.concatenate([vals, b_vals])
            run_sum += float(b_vals.sum())
            mn_o, mn_v = _mono_merge_batch(mn_o, mn_v, b_ords, b_vals, True)
            mx_o, mx_v = _mono_merge_batch(mx_o, mx_v, b_ords, b_vals, False)
        if len(vals) > max_len:
            run_sum -= float(vals[: len(vals) - max_len].sum())
            ords, vals = ords[-max_len:], vals[-max_len:]
            # deque ords are increasing → expired front = one searchsorted
            cut_mn = np.searchsorted(mn_o, ords[0], side="left")
            cut_mx = np.searchsorted(mx_o, ords[0], side="left")
            mn_o, mn_v = mn_o[cut_mn:], mn_v[cut_mn:]
            mx_o, mx_v = mx_o[cut_mx:], mx_v[cut_mx:]
        state.update(
            (
                [int(o) for o in ords],
                [float(v) for v in vals],
                run_sum,
                [int(o) for o in mn_o],
                [float(v) for v in mn_v],
                [int(o) for o in mx_o],
                [float(v) for v in mx_v],
            )
        )
        yield pd.DataFrame(
            {
                **{k: [key[i]] for i, k in enumerate(keys)},
                "n": [len(vals)],
                "sum_val": [run_sum],
                "min_val": [float(mn_v[0])],
                "max_val": [float(mx_v[0])],
            }
        )

    return df.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def accu_stream_tws(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_col: str = "batch_ofs",
    alpha: float = 0.1,
) -> DataFrame:
    """ewma_stream on the transformWithStateInPandas API (Spark 4.x).

    Same semantics as ewma_stream (running order-dependent EWMA + count per
    group, update mode); the new API brings typed per-state-variable
    handles, TTL, and RocksDB-backed state out of the box — the forward
    path for custom stateful operators. Kept API-parallel so tests assert
    both implementations produce identical state trajectories.

    NOTE: TWS's state-server wire protocol needs the ``protobuf`` package
    (absent in this offline container → the parity test auto-skips);
    ewma_stream (applyInPandasWithState) is the dependency-free twin.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    in_types = dict(df.dtypes)
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in keys) + ", ewma double, n long"
    )

    class RunningEwma(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("acc", "ewma double, n long")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                acc, n = self._state.get()
            else:
                acc, n = None, 0
            for pdf in rows:
                pdf = pdf.sort_values(order_col)
                xs = pdf[value_col].to_numpy(dtype=np.float64)
                acc = _ewma_update(acc, xs, alpha)
                n += len(xs)
            self._state.update((acc, n))
            yield pd.DataFrame(
                {
                    **{k: [key[i]] for i, k in enumerate(keys)},
                    "ewma": [acc],
                    "n": [n],
                }
            )

        def close(self) -> None:
            pass

    return df.groupBy(*keys).transformWithStateInPandas(
        RunningEwma(), out_schema, "update", "None"
    )
