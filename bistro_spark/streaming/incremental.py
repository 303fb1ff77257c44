"""Deterministic micro-batch driver — the exact-parity twin of Bistro
Streams' action loop (``server/.../server/Server.java#submit`` + worker
thread; actions ``ActionAdd`` / ``ActionRemove`` / ``ActionEval``).

The reference turns a table into a sliding event queue: connectors submit
ActionAdd(record), a timer submits ActionRemove (FIFO eviction beyond a max
length / max age) then ActionEval (propagate deltas through the column
graph). A single worker thread gives a total order over mutations, hence
deterministic results.

Here a micro-batch IS the ActionAdd delta, retention is applied to a
buffered window, and "evaluate" re-aggregates the retained population —
semantically identical to the reference, whose accu/roll columns always
reflect the *current* table contents after eviction (``Table.java#remove``
shrinks the population; ``Schema.java#evaluate`` re-aggregates). Two modes:

- ``retention=None`` (add-only streams): per-group aggregate state is
  MERGED batch-over-batch (state ∝ #groups — what Structured Streaming's
  state store does for us in streaming mode).
- count- or age-based retention: per delta the prepared delta is unioned
  with the retained window, coalesced to the session's default parallelism
  and pinned ONCE (calc and link run exactly once, inside the pin job);
  the eviction predicate is computed on the pinned rows and the window is
  kept as a lazy filter over them. ``result()`` aggregates the window. The
  window's partition count stays bounded and one checkpoint is live.

The runner exists for row-for-row parity tests against the oracle with
scripted batch boundaries, and for delta-driven evaluation outside
Structured Streaming. The streaming form of count retention is
``state.py#fifo_window_stream``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class AggSpec:
    """A merge-able accumulate: per-batch aggregate + cross-batch merge.

    sum/count merge with sum; min/max with min/max. avg must be declared as
    (sum, count) pairs and finalized — the classic partial-aggregate trick
    Spark itself uses for partial+final aggregation. ``merge_expr`` is
    read by add-only mode; retention mode re-aggregates the window with
    ``batch_expr``.

    ``default`` and ``invertible`` are unread; they remain only so that
    existing positional/keyword callers keep working.
    """

    name: str
    batch_expr: str  # aggregate over a batch, e.g. "sum(n_tok)"
    merge_expr: str  # merge partials, e.g. "sum" | "min" | "max"
    default: object = 0
    invertible: bool = False


class IncrementalRunner:
    """Scripted micro-batch evaluation of a grouped accumulate pipeline.

    Parameters
    ----------
    prepare: calc+link phase — fn(batch_df) -> DataFrame, applied to each
        incoming batch (the delta). This is where calc columns and link
        joins run: both are per-row/broadcast ops, so delta-only evaluation
        is exact — same argument the reference uses to evaluate calc/link
        over only the added span (ColumnDefinitionCalc/Link#evaluate).
    group_keys: accu grouping (the link column value).
    aggs: merge-able aggregate specs.
    retention_count / retention_age: FIFO eviction — max rows (by arrival
        order column ``order_col``) or max event-time age (vs the max event
        time seen so far — the watermark analog).
    """

    def __init__(
        self,
        spark: SparkSession,
        prepare: Callable[[DataFrame], DataFrame],
        group_keys: list[str],
        aggs: list[AggSpec],
        retention_count: int | None = None,
        retention_age: str | None = None,  # SQL interval, e.g. "30 seconds"
        order_col: str = "batch_ofs",
        time_col: str = "event_time",
    ):
        self.spark = spark
        self.prepare = prepare
        self.group_keys = group_keys
        self.aggs = aggs
        self.retention_count = retention_count
        self.retention_age = retention_age
        self.order_col = order_col
        self.time_col = time_col
        self._buffer: DataFrame | None = None  # retained window (retention mode)
        self._state: DataFrame | None = None  # merged aggregates (add-only mode)
        self._pin_ids: set[int] = set()  # executor blocks owned by buffer/state
        self.batches_seen = 0

    # -- ActionAdd + ActionEval --------------------------------------------

    def add_batch(self, batch_df: DataFrame) -> None:
        """ActionAdd(delta) + ActionRemove(retention) + ActionEval."""
        from bistro_spark.caching import pin, release

        self.batches_seen += 1
        prepared = self.prepare(batch_df)
        # the previous pins are still read while the new ones derive from
        # them; release them once the new pin is eager-materialized, or a
        # long-running stream leaks one checkpoint per micro-batch
        old_ids = self._pin_ids

        if self._needs_buffer():
            buf = prepared if self._buffer is None else self._buffer.unionByName(prepared)
            # localCheckpoint truncates the ever-growing union lineage, and
            # coalesce stops the partition count growing with every union
            pinned, self._pin_ids = pin(
                buf.coalesce(self.spark.sparkContext.defaultParallelism)
            )
            keep = self._keep_predicate(pinned)
            self._buffer = pinned.filter(keep) if keep is not None else pinned
        else:
            partial = prepared.groupBy(*self.group_keys).agg(
                *[F.expr(a.batch_expr).alias(a.name) for a in self.aggs]
            )
            if self._state is None:
                merged = partial
            else:
                merged = (
                    self._state.unionByName(partial)
                    .groupBy(*self.group_keys)
                    .agg(
                        *[
                            F.expr(f"{a.merge_expr}({a.name})").alias(a.name)
                            for a in self.aggs
                        ]
                    )
                )
            self._state, self._pin_ids = pin(merged)
        release(self.spark, old_ids)

    def _needs_buffer(self) -> bool:
        return self.retention_count is not None or self.retention_age is not None

    def _keep_predicate(self, buf: DataFrame):
        """ActionRemove as a predicate: FIFO count eviction / age eviction
        (server/.../actions/ActionRemove.java; age variant = the watermark
        analog). Returns a Column (rows to KEEP) or None if nothing evicts.
        """
        preds = []
        if self.retention_count is not None:
            # keep the newest N by arrival order — the reference's
            # remove-oldest-beyond-max-length
            cutoff_row = (
                buf.select(self.order_col)
                .orderBy(F.col(self.order_col).desc())
                .limit(self.retention_count)
                .agg(F.min(self.order_col).alias("m"))
                .collect()[0]["m"]
            )
            if cutoff_row is not None:
                preds.append(F.col(self.order_col) >= cutoff_row)
        if self.retention_age is not None:
            max_t = buf.agg(F.max(self.time_col).alias("m")).collect()[0]["m"]
            if max_t is not None:
                preds.append(
                    F.col(self.time_col)
                    > F.lit(max_t) - F.expr(f"INTERVAL {self.retention_age}")
                )
        if not preds:
            return None
        pred = preds[0]
        for p in preds[1:]:
            pred = pred & p
        return pred

    # -- read-out -----------------------------------------------------------

    def result(self) -> DataFrame:
        """Current accumulate values (the reference's getValue read-out
        after evaluate). Retention mode aggregates the retained window;
        add-only mode reads the merged state."""
        if self._needs_buffer():
            if self._buffer is None:
                raise ValueError("no batches added")
            return self._buffer.groupBy(*self.group_keys).agg(
                *[F.expr(a.batch_expr).alias(a.name) for a in self.aggs]
            )
        if self._state is None:
            raise ValueError("no batches added")
        return self._state

    def window(self) -> DataFrame:
        """The retained population (retention mode only) — for roll columns
        and inspection."""
        if self._buffer is None:
            raise ValueError("retention mode only")
        return self._buffer
