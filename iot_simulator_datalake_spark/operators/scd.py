"""SCD Type 1 current-state from CDC change streams ([DOC] W1 surface:
README_DBT.md:103,171-182,242-244 — "CDC deduplication with
ROW_NUMBER()", soft deletes via ``_is_deleted``), plus the continuously
maintained variant (⇔ DLT ``APPLY CHANGES INTO``).  The stored state
tables are versioned tables like every engine table: each fold writes
a new version and installs it (engine/publish.py), and ``read_state``
reads the published one, so a frame from ``read()`` keeps its version
while the state refreshes, until retention reclaims it."""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine.publish import _install_version, read_state, write_version
from .dedup import window_dedup

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession


def scd1_current(changes: DataFrame, key: str, order_col: str = "op_ts",
                 tiebreak: str | None = None,
                 deleted_col: str = "_is_deleted") -> DataFrame:
    """Latest-record-wins current state: one row per key (max
    ``order_col`` version), soft-deleted rows excluded
    (README_DBT.md:243).

    One shuffle on the entity key; at CDC volumes the per-key change
    count is small so no skew handling is needed — a hot key (e.g. a
    device rewriting constantly) is still bounded by retention.
    """
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    current = window_dedup(changes, [key], order)
    if deleted_col in changes.columns:
        current = current.filter(
            ~F.coalesce(F.col(deleted_col), F.lit(False)))
    return current


class ApplyChanges:
    """Continuously maintained SCD1 table — the OSS equivalent of DLT's
    ``APPLY CHANGES INTO`` (README_DBT.md CDC pipeline surface).

    Each :meth:`apply` folds a batch of change rows into a stored
    current-state table: latest version per key wins, with **tombstone
    retention** — deleted keys stay in the state (flagged) so an
    out-of-order update older than the delete cannot resurrect the row;
    :meth:`read` filters tombstones out.

    Merge cost is O(batch + state-keys) — the window runs over the
    union of the (one-row-per-key) state and the batch, shuffled on the
    entity key.  Pass as ``foreachBatch(ac.apply)`` on a CDC stream.
    With Delta/Iceberg jars this becomes MERGE INTO keyed on the batch's
    keys; plain parquet rewrites the O(keys) state, never the history.
    """

    def __init__(self, spark: "SparkSession", path: str | Path, *,
                 key: str, order_col: str = "op_ts",
                 tiebreak: str | None = None,
                 deleted_col: str = "_is_deleted"):
        self.spark = spark
        self.path = Path(path)
        self.key, self.order_col = key, order_col
        self.tiebreak, self.deleted_col = tiebreak, deleted_col

    def apply(self, changes: DataFrame, epoch_id: int | None = None) -> None:
        state = read_state(self.spark, self.path)
        merged = changes if state is None else \
            state.unionByName(changes, allowMissingColumns=True)
        order = [F.col(self.order_col).desc()]
        if self.tiebreak:
            order.append(F.col(self.tiebreak).desc())
        current = window_dedup(merged, [self.key], order)
        _install_version(write_version(current, self.path), self.path)

    def read(self, include_deleted: bool = False) -> DataFrame:
        state = read_state(self.spark, self.path)
        if state is None:
            raise FileNotFoundError(f"no state at {self.path}; apply first")
        if include_deleted or self.deleted_col not in state.columns:
            return state
        return state.filter(
            ~F.coalesce(F.col(self.deleted_col), F.lit(False)))


def scd2_history(changes: DataFrame, key: str, order_col: str = "op_ts",
                 tiebreak: str | None = None,
                 deleted_col: str = "_is_deleted") -> DataFrame:
    """SCD Type 2 version history (⇔ dbt snapshots / DLT APPLY CHANGES
    ``STORED AS SCD TYPE 2``): every change opens a version valid
    [``order_col``, next change); delete events close the prior
    version without opening one, so a key whose last op is a delete
    has no current row.

    Adds ``valid_from``, ``valid_to`` (NULL while open) and
    ``is_current``.  One shuffle on the entity key — the lead() window
    reuses the same partitioning as SCD1's dedup, so maintaining both
    views costs one exchange total.
    """
    from pyspark.sql import Window as W

    order = [F.col(order_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = W.partitionBy(key).orderBy(*order)
    out = (changes
           .withColumn("valid_from", F.col(order_col))
           .withColumn("valid_to", F.lead(order_col).over(w)))
    if deleted_col in changes.columns:
        out = out.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    return out.withColumn("is_current", F.col("valid_to").isNull())


class SnapshotTable:
    """dbt-snapshot semantics (``dbt snapshot``): each run diffs the
    CURRENT source state against the stored snapshot and maintains SCD2
    history — changed keys close their open version and open a new one,
    new keys open, untouched keys pass through.  Strategies:

    - ``timestamp``: a row changed iff ``updated_at`` advanced past the
      open version's (dbt's default; cheap, needs a reliable column)
    - ``check``: a row changed iff any of ``check_cols`` differs
      (null-safe) — for sources without an update timestamp

    PRECONDITION (same as dbt snapshot): ``unique_key`` must be unique
    in each presented source state — a duplicated key would fan out
    through the open-version join exactly like duplicate MERGE sources
    (see operators/merge.py AmbiguousMergeSourceError); dbt raises on
    it, and callers here should pre-aggregate latest-wins first
    (scd1_current) when the feed can carry duplicates.

    State lives as parquet at ``path`` with dbt's column vocabulary
    (``dbt_valid_from`` / ``dbt_valid_to`` NULL-while-open).  Per run:
    one join of source against OPEN versions on the unique key + one
    union — O(source + open-versions); closed history is written back
    untouched (at lake scale the closed partition append-only splits
    out, same shape).  Each run installs a new version of the state.
    """

    def __init__(self, spark: "SparkSession", path, *, unique_key: str,
                 strategy: str = "timestamp",
                 updated_at: str = "updated_at",
                 check_cols: list[str] | None = None):
        from pathlib import Path as _P
        if strategy not in ("timestamp", "check"):
            raise ValueError(f"unknown snapshot strategy {strategy!r}")
        if strategy == "check" and not check_cols:
            raise ValueError("check strategy needs check_cols")
        self.spark, self.path = spark, _P(path)
        self.key, self.strategy = unique_key, strategy
        self.updated_at, self.check_cols = updated_at, check_cols or []

    def _write(self, df: "DataFrame") -> None:
        _install_version(write_version(df, self.path), self.path)

    def run(self, source: "DataFrame") -> None:
        src = source.withColumn("dbt_valid_from", F.col(self.updated_at)) \
                    .withColumn("dbt_valid_to",
                                F.lit(None).cast("timestamp"))
        state = read_state(self.spark, self.path)
        if state is None:
            self._write(src)
            return
        closed = state.filter(F.col("dbt_valid_to").isNotNull())
        open_ = state.filter(F.col("dbt_valid_to").isNull())
        # Side-existence markers, not key null-ness (same hazard class
        # as operators/merge.py): a NULL-unique_key open row would
        # otherwise satisfy NO branch and vanish from the state every
        # run.
        s = src.withColumn("_s_exists", F.lit(True)).alias("s")
        o = open_.withColumn("_o_exists", F.lit(True)).alias("o")
        joined = o.join(s, F.col(f"o.{self.key}") == F.col(f"s.{self.key}"),
                        "full_outer")
        if self.strategy == "timestamp":
            # coalesce to FALSE: a NULL source updated_at makes the
            # comparison NULL, and an un-coalesced NULL satisfies
            # neither keep nor close nor opened — the key's history
            # would silently vanish (three-valued-logic leak; the
            # check strategy's eqNullSafe can't produce NULL).
            changed = F.coalesce(F.col(f"s.{self.updated_at}") >
                                 F.col(f"o.{self.updated_at}"),
                                 F.lit(False))
        else:
            changed = F.lit(False)
            for c in self.check_cols:
                changed = changed | ~F.col(f"s.{c}").eqNullSafe(
                    F.col(f"o.{c}"))
        s_ex = F.col("s._s_exists").isNotNull()
        o_ex = F.col("o._o_exists").isNotNull()
        cols = state.columns
        # keep: untouched open rows; close: changed open rows; open: new
        keep = joined.filter(o_ex & (~s_ex | ~changed)) \
            .select(*[F.col(f"o.{c}").alias(c) for c in cols])
        close = joined.filter(o_ex & s_ex & changed) \
            .select(*[(F.col(f"s.{self.updated_at}")
                       if c == "dbt_valid_to" else F.col(f"o.{c}"))
                      .alias(c) for c in cols])
        opened = joined.filter(s_ex & (~o_ex | changed)) \
            .select(*[F.col(f"s.{c}").alias(c) for c in cols])
        new_state = closed.unionByName(keep).unionByName(close) \
                          .unionByName(opened)
        self._write(new_state)

    def read(self, current_only: bool = False) -> "DataFrame":
        state = read_state(self.spark, self.path)
        if state is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        return (state.filter(F.col("dbt_valid_to").isNull())
                if current_only else state)
