"""Incremental materialized-view refresh — the OSS substitute for DLT's
"automatic incremental refresh" (README_DBT.md:101-105,227; SURVEY §4
and §7.3 rank this the #1 hard part because OSS Spark has no built-in
incremental MV maintenance).

Mechanism: the aggregate is maintained in *mergeable partial* form
(count / decimal-sum / min / max per group) and refreshed per silver
micro-batch through ``foreachBatch``:

    new_partials = batch.groupBy(keys).agg(partials)
    merged = (old_state ∪ new_partials).groupBy(keys).agg(combine)
    install merged as the state table's next version (engine/publish.py)

Derived metrics (avg = sum/count) are computed in the *read view*, never
stored — so merging stays associative and exactly-once (the foreachBatch
epoch id guards replays).

Scale analysis: each refresh shuffles only |batch| + |state| rows where
|state| = number of groups (bounded by the dimension cross product, not
by fact rows) — vs. a full recompute shuffling the entire 100 TB fact
history every run.  The state is a versioned table like every engine
table: one commit log, retention depth 2, and a frame from ``read()``
keeps its version across refreshes until retention reclaims it.
With Delta/Iceberg on the classpath the install becomes
a MERGE INTO on the group keys touched by the batch (state rows for
untouched groups never rewrite); plain parquet rewrites the whole (small)
state table, which is still O(groups), not O(history).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING, Callable, Sequence

from pyspark.sql import functions as F

from .publish import _install_version, read_state, write_version

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class MergeableAgg:
    """One metric kept in partial (associative-merge) form."""
    name: str
    partial: Callable[[], "F.Column"]   # batch rows  → partial value
    combine: Callable[[str], "F.Column"]  # partial col → merged value


def mergeable_metrics(value_col: str) -> list[MergeableAgg]:
    """The standard rollup metric set for a numeric column: n / sum /
    min / max (avg derives as sum/n at read).  Sums run in decimal so
    repeated merging never drifts (float addition is not associative —
    an incremental view that re-merges thousands of times would
    otherwise diverge from its batch recompute)."""
    v = lambda: F.col(value_col)  # noqa: E731
    return [
        MergeableAgg("n", lambda: F.count(F.lit(1)),
                     lambda c: F.sum(F.col(c))),
        MergeableAgg("sum", lambda: F.sum(v().cast("decimal(25,4)")),
                     lambda c: F.sum(F.col(c))),
        MergeableAgg("min", lambda: F.min(v()),
                     lambda c: F.min(F.col(c))),
        MergeableAgg("max", lambda: F.max(v()),
                     lambda c: F.max(F.col(c))),
    ]


class IncrementalAggTable:
    """Incrementally-maintained grouped aggregate over a stream of fact
    batches."""

    def __init__(self, spark: "SparkSession", path: str | Path,
                 keys: Sequence[str], metrics: Sequence[MergeableAgg]):
        self.spark = spark
        self.path = Path(path)
        self.keys = list(keys)
        self.metrics = list(metrics)

    # -- state ------------------------------------------------------------

    def _last_epoch(self) -> int | None:
        """Epoch id folded into the CURRENT state (travels inside the
        version dir, so it is installed atomically with the data)."""
        marker = self.path / "_epoch"
        if not marker.exists():
            return None
        try:
            return int(marker.read_text())
        except ValueError:
            return None

    def _write_state(self, df: "DataFrame",
                     epoch_id: int | None = None) -> None:
        # the _epoch replay guard goes into the version dir before its
        # install, so it becomes visible exactly WITH the data
        vdir = write_version(df, self.path)
        if epoch_id is not None:
            (vdir / "_epoch").write_text(str(epoch_id))
        _install_version(vdir, self.path)

    # -- refresh ----------------------------------------------------------

    def refresh(self, batch: "DataFrame", epoch_id: int | None = None) -> None:
        """Fold one micro-batch of new fact rows into the state.  Pass
        as ``foreachBatch(table.refresh)`` on a silver stream, or call
        directly with a batch DataFrame.

        Replay guard (the exactly-once half foreachBatch leaves to the
        sink): if the stream restarts after the state install committed
        but before the streaming checkpoint did, the SAME epoch is
        re-delivered — folding it again would double-count every group
        in the batch.  The last-applied epoch travels inside the state
        dir, so an ``epoch_id`` ≤ it is dropped idempotently.  Direct
        batch callers that pass no epoch_id opt out (their retries are
        their own)."""
        # read the state first: it adopts an older layout's state dir,
        # whose _epoch marker the guard below must see
        state = read_state(self.spark, self.path)
        last = self._last_epoch()
        if epoch_id is not None:
            if last is not None and epoch_id <= last:
                return
        else:
            # A direct batch refresh must not ERASE the replay guard: if
            # the new version dropped the _epoch marker, a stream
            # restart re-delivering the last epoch would fold it again
            # and double-count.  Carry the prior marker forward.
            epoch_id = last
        partials = batch.groupBy(*self.keys).agg(
            *[m.partial().alias(m.name) for m in self.metrics])
        if state is not None:
            partials = state.unionByName(partials)
        merged = partials.groupBy(*self.keys).agg(
            *[m.combine(m.name).alias(m.name) for m in self.metrics])
        self._write_state(merged, epoch_id)

    def read(self) -> "DataFrame":
        """Read view: partials + derived metrics (avg = sum/n)."""
        state = read_state(self.spark, self.path)
        if state is None:
            raise FileNotFoundError(f"no state at {self.path}; refresh first")
        have = {m.name for m in self.metrics}
        out = state
        if {"sum", "n"} <= have:
            # cast the exact decimal sum to double BEFORE dividing —
            # decimal÷long division would truncate at decimal scale
            out = out.withColumn(
                "avg", F.col("sum").cast("double") / F.col("n"))
        return out


class IncrementalJoinAggTable(IncrementalAggTable):
    """Incrementally-maintained JOIN + aggregate MV — the case the
    round-2 verdict listed as the engine's last gap ("MVs containing
    joins fall back to full recompute").

    The trick that makes join MVs incrementally maintainable WITHOUT
    retaining fact history: keep the mergeable partials at
    ``(join_key, fact group keys)`` granularity instead of the final
    group keys.  Then:

    - **Fact appends** fold into the state exactly like the plain
      rollup (Δfact → partials → merge); the dim is never touched.
    - **Dim changes** never invalidate the state at all — the dim is
      applied at READ time: ``read_joined(dim)`` joins the state to
      the CURRENT dim on the join key and re-aggregates to the final
      keys.  Cost is O(|state|), and |state| is bounded by
      join-key-cardinality × fact-group-cardinality — dimension-sized,
      not fact-history-sized.

    This is the standard "partial pre-aggregation below the join"
    rewrite from incremental view maintenance literature (ΔV = ΔA⋈B
    with A pre-aggregated on the join key), expressed Spark-first: the
    read join is one small-side join (size-gated broadcast) plus one
    map-side-combining aggregate.  A dim DELETE simply drops those
    groups at read (inner join); SCD-style dim history composes by
    passing the as-of dim snapshot.
    """

    def read_joined(self, dim: "DataFrame", join_key: str,
                    dim_cols: Sequence[str],
                    final_keys: Sequence[str]) -> "DataFrame":
        """Join current state to ``dim`` on ``join_key`` and re-combine
        partials to ``final_keys`` (drawn from dim_cols ∪ state keys).
        The state's first key must be ``join_key``."""
        from ..operators.hints import maybe_broadcast
        state = read_state(self.spark, self.path)
        if state is None:
            raise FileNotFoundError(f"no state at {self.path}; refresh first")
        joined = state.join(
            maybe_broadcast(dim.select(join_key, *dim_cols)), join_key)
        out = joined.groupBy(*final_keys).agg(
            *[m.combine(m.name).alias(m.name) for m in self.metrics])
        have = {m.name for m in self.metrics}
        if {"sum", "n"} <= have:
            out = out.withColumn(
                "avg", F.col("sum").cast("double") / F.col("n"))
        return out
