"""Snapshot-versioned tables + time travel — the OSS analog of Delta
table versioning the reference gets from its Databricks tier
(README_DBT.md:103-104,227 "Automatic ... table history / VACUUM").

A snapshot table is an ordinary engine table: a symlink to its current
``<table>.v-<hex>`` version dir, with a commit log beside it, all owned
by engine/publish.py.  Every install appends one log entry naming its
version dir, whoever writes it — :func:`write_snapshot`, an Engine run
of a model (``snapshot_keep`` sets how many versions it retains), a
backfill or a compaction — so this module only reads and writes that
log: version numbers are entry numbers, and "current" is the newest
entry.  Concurrent writers each stage a private version dir and claim
the next entry with ``O_CREAT|O_EXCL`` (Delta's optimistic commit), so
simultaneous commits serialize into versions N and N+1 and no reader
sees a partial one.

Scale notes: version dirs are plain parquet — all scan pushdown /
pruning applies; retention bounds storage to the last N versions;
commit cost is one parquet write + one small JSON create per
materialization regardless of data size.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from .publish import (_install_version, read_log, reclaim_versions,
                      write_version)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def write_snapshot(df: "DataFrame", table: str | Path, *,
                   partition_by: tuple[str, ...] = (),
                   keep: int | None = None) -> int:
    """Commit ``df`` as the next version of ``table``; returns the
    committed version number.  Safe under concurrent writers.  ``keep``
    (≥1) retains the newest N versions from this commit on; None keeps
    every version."""
    table = Path(table)
    return _install_version(write_version(df, table, partition_by), table,
                            keep=keep or 0)


def read_snapshot(spark: "SparkSession", table: str | Path,
                  version: int | None = None) -> "DataFrame":
    """Read a table version (default: current).  Negative versions
    index back from current (-1 = previous)."""
    table = Path(table)
    log = read_log(table)
    if not log:
        raise FileNotFoundError(f"no snapshots at {table}")
    if version is None:
        version = max(log)
    elif version < 0:
        version = max(log) + version
    if version not in log:
        raise KeyError(f"version {version} not in {sorted(log)} "
                       f"(reclaimed or never written)")
    return spark.read.parquet(str(table.with_name(log[version]["dir"])))


def read_snapshot_as_of(spark: "SparkSession", table: str | Path,
                        unix_ts: float) -> "DataFrame":
    """Time travel: the newest version committed at or before
    ``unix_ts`` (⇔ ``TIMESTAMP AS OF``)."""
    eligible = [v for v, e in read_log(table).items()
                if e["unix_ts"] <= unix_ts]
    if not eligible:
        raise KeyError(f"no version at or before {unix_ts}")
    return read_snapshot(spark, table, max(eligible))


def versions(table: str | Path) -> list[int]:
    return sorted(read_log(table))


def vacuum(table: str | Path, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` versions (the current one
    always stays); returns the dropped version numbers.  A reader that
    already resolved a dropped version may still be scanning it, so
    real deployments add a retention delay before the delete (Delta's
    ``deletedFileRetentionDuration``); locally the test suite owns
    read/vacuum ordering."""
    return reclaim_versions(table, keep)


def snapshot_diff(spark: "SparkSession", table: str | Path,
                  v_from: int, v_to: int,
                  keys: tuple[str, ...] = ()) -> "DataFrame":
    """Row-level changes between two versions — the OSS analog of the
    Delta Change Data Feed the reference's platform tier provides
    (README_DBT.md's CDC/SCD pipelines consume exactly this shape).

    Without ``keys``: multiset diff via ``exceptAll`` both ways —
    rows only in ``v_to`` are ``insert``, rows only in ``v_from`` are
    ``delete`` (an updated row appears as one of each).  With
    ``keys``: the insert/delete pairs sharing a key collapse into
    ``update_preimage`` / ``update_postimage``, matching the CDF
    ``_change_type`` vocabulary.

    Scale: exceptAll is one hash-partitioned shuffle per side on the
    full row; with keys the classification adds a shuffle on the key
    columns only over the CHANGED rows (usually ≪ table size).  For
    tables with a stable primary key, prefer passing ``keys`` — the
    changed-row join is what downstream MERGE consumers need anyway.
    """
    from pyspark.sql import functions as F

    old = read_snapshot(spark, table, v_from)
    new = read_snapshot(spark, table, v_to)
    inserted = new.exceptAll(old).withColumn("_change_type",
                                             F.lit("insert"))
    deleted = old.exceptAll(new).withColumn("_change_type",
                                            F.lit("delete"))
    changes = inserted.unionByName(deleted)
    if not keys:
        return changes
    k = list(keys)
    both = (changes.groupBy(*k)
            .agg(F.countDistinct("_change_type").alias("_n"))
            .where(F.col("_n") == 2).drop("_n"))
    return (changes
            .join(both.select(*k, F.lit(True).alias("_upd")), k, "left")
            .withColumn(
                "_change_type",
                F.when(F.col("_upd").isNull(), F.col("_change_type"))
                .when(F.col("_change_type") == "delete",
                      F.lit("update_preimage"))
                .otherwise(F.lit("update_postimage")))
            .drop("_upd"))
