"""engine/publish.py writes every published file: a version dir whose
write fails is deleted with it, a backfill overlays the current
version without carrying its skipping manifest, and small files are
replaced whole without leaving a temp file behind."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine, Registry, model
from iot_simulator_datalake_spark.engine.publish import write_file_atomic
from iot_simulator_datalake_spark.engine.skipping import (
    STATS_MANIFEST, build_stats_manifest)


@pytest.mark.parametrize("atomic", [False, True])
def test_failed_table_write_leaves_no_version_dir(spark, tmp_path, atomic):
    """A table model whose plan fails inside the write leaves no
    ``.v-*`` beside its table: no log entry names that dir, so nothing
    would reclaim it, and a record that fails every refresh would leak
    one per refresh."""
    r = Registry()

    @model(r, name="base", layer="silver", materialization="table")
    def base(ctx):
        return ctx.spark.range(5)

    @model(r, name="t", layer="gold", materialization="table",
           depends_on=("silver.base",))
    def t(ctx):
        return ctx.ref("silver.base").withColumn(
            "x", F.raise_error(F.lit("poison record")))

    wh = tmp_path / "wh"
    with pytest.raises(Exception, match="poison record"):
        Engine(spark, r, warehouse=wh).run(atomic_publish=atomic)
    assert not list((wh / "gold").glob("t.v-*"))
    if atomic:      # the run's deferred upstream version goes too
        assert not list(wh.rglob("*.v-*"))


def test_backfill_version_drops_the_skipping_manifest(spark, tmp_path):
    """The overlay copies only the data of the current version: its
    ``_file_stats.json`` names files the overwrite replaces, so the
    backfilled version starts without one.  The per-write overwrite
    mode leaves the session's own mode as it was."""
    src = {"rows": [("a", 1), ("b", 10)]}
    r = Registry()

    @model(r, name="agg", layer="gold", materialization="table",
           partition_by=("p",))
    def agg(ctx):
        return ctx.spark.createDataFrame(src["rows"], "p string, v long")

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    eng.run()
    table_dir = eng.table_path(r["gold.agg"])
    assert build_stats_manifest(table_dir, ["v"]) == 2
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    src["rows"] = [("a", 2), ("a", 3), ("b", 999)]
    eng.backfill("gold.agg", "p = 'a'")
    assert not (table_dir / STATS_MANIFEST).exists()
    assert {(x.p, x.v) for x in spark.read.parquet(str(table_dir))
            .collect()} == {("a", 2), ("a", 3), ("b", 10)}
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode


def test_backfill_keeps_underscore_named_partitions(spark, tmp_path):
    """The overlay skips what Spark skips when it lists a table: a
    top-level ``_`` name holding no ``=`` (``_SUCCESS``, a manifest).
    ``_p=b`` is a partition of column ``_p``, so it is data and the
    backfilled version keeps it."""
    src = {"rows": [("a", 1), ("b", 10)]}
    r = Registry()

    @model(r, name="agg", layer="gold", materialization="table",
           partition_by=("_p",))
    def agg(ctx):
        return ctx.spark.createDataFrame(src["rows"], "_p string, v long")

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    eng.run()
    table_dir = eng.table_path(r["gold.agg"])

    src["rows"] = [("a", 2), ("b", 999)]
    eng.backfill("gold.agg", "_p = 'a'")
    assert (table_dir / "_p=b").is_dir()
    assert {(x._p, x.v) for x in spark.read.parquet(str(table_dir))
            .collect()} == {("a", 2), ("b", 10)}


def test_write_file_atomic_leaves_no_temp(tmp_path, monkeypatch):
    target = tmp_path / "store.json"
    write_file_atomic(target, "one")
    write_file_atomic(target, "two")
    assert target.read_text() == "two"
    assert [p.name for p in tmp_path.iterdir()] == ["store.json"]

    def fail(self, other):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(Path, "replace", fail)
    with pytest.raises(OSError, match="simulated"):
        write_file_atomic(target, "three")
    assert target.read_text() == "two"
    assert [p.name for p in tmp_path.iterdir()] == ["store.json"]
