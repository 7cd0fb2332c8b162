"""Bounded, compact lake footprint: version install keeps one deep
(the current version and the one it replaced, named by ``<name>.prev``)
and every engine write is zstd parquet.  Each test here fails under
unbounded retention, snappy writes, or a reclaim that deletes every
non-current version by glob."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine, Registry, model
from iot_simulator_datalake_spark.engine.publish import (
    _install_version, new_version_dir, vacuum_table_versions)
from iot_simulator_datalake_spark.pipeline import build_registry

from conftest import write_iot_events


def _version(final: Path, tag: str) -> Path:
    d = new_version_dir(final)
    d.mkdir()
    (d / "data.txt").write_text(tag)
    return d


def _versions(final: Path) -> set[str]:
    return {p.name for p in final.parent.glob(f"{final.name}.v-*")}


def test_staged_version_survives_other_installs(tmp_path):
    """A version dir written but not yet installed (a concurrent
    writer's) survives any number of another writer's installs, and
    installs cleanly afterwards."""
    final = tmp_path / "tbl"
    staged = _version(final, "slow")
    for tag in ("a", "b", "c"):
        _install_version(_version(final, tag), final)
    assert (staged / "data.txt").read_text() == "slow"
    assert _versions(final) == {staged.name, os.readlink(final),
                                os.readlink(tmp_path / "tbl.prev")}
    _install_version(staged, final)
    assert (final / "data.txt").read_text() == "slow"


def test_atomic_publish_deferral_survives_concurrent_runs(spark, tmp_path):
    """An ``atomic_publish`` run's version dirs wait, uninstalled, until
    every model succeeds.  Three runs of another engine installing the
    same table in the meantime must not reclaim them: the deferred run's
    downstream model still reads its own dir, and its install still
    publishes it."""
    wh = tmp_path / "wh"
    other_reg = Registry()

    @model(other_reg, name="base", layer="silver", materialization="table")
    def other_base(ctx):
        return ctx.spark.range(7).withColumn("tag", F.lit("other"))

    other = Engine(spark, other_reg, warehouse=wh)
    reg = Registry()

    @model(reg, name="base", layer="silver", materialization="table")
    def base(ctx):
        return ctx.spark.range(50).withColumn("tag", F.lit("deferred"))

    @model(reg, name="agg", layer="gold", materialization="table",
           depends_on=("silver.base",))
    def agg(ctx):
        for _ in range(3):
            other.run()
        return ctx.ref("silver.base").groupBy("tag").agg(
            F.count("*").alias("n"))

    Engine(spark, reg, warehouse=wh).run(atomic_publish=True)
    base_p = wh / "silver" / "base"
    assert [tuple(r) for r in spark.read.parquet(str(wh / "gold" / "agg"))
            .collect()] == [("deferred", 50)]
    assert spark.read.parquet(str(base_p)).select("tag").distinct() \
        .collect()[0]["tag"] == "deferred"
    assert _versions(base_p) == {os.readlink(base_p),
                                 os.readlink(wh / "silver" / "base.prev")}


def test_install_after_vacuum_and_lost_prev_target(tmp_path):
    """``vacuum_table_versions`` drops the ``.prev`` link with the old
    versions; installs keep working after it, and after the ``.prev``
    target was deleted by hand."""
    final, prev = tmp_path / "tbl", tmp_path / "tbl.prev"
    for tag in ("a", "b", "c"):
        _install_version(_version(final, tag), final)
    assert len(vacuum_table_versions(final)) == 1
    assert not os.path.lexists(prev)
    assert _versions(final) == {os.readlink(final)}

    _install_version(_version(final, "d"), final)
    assert (final / "data.txt").read_text() == "d"
    assert (prev / "data.txt").read_text() == "c"

    shutil.rmtree(prev.resolve())
    _install_version(_version(final, "e"), final)
    assert (final / "data.txt").read_text() == "e"
    assert (prev / "data.txt").read_text() == "d"
    assert _versions(final) == {os.readlink(final), os.readlink(prev)}


def test_install_never_reclaims_a_foreign_link_target(tmp_path):
    """A table link pointed by hand at a dir that is not one of its
    version siblings is retargeted, never deleted."""
    external = tmp_path / "elsewhere"
    external.mkdir()
    final = tmp_path / "tbl"
    os.symlink(external, final)
    for tag in ("a", "b", "c"):
        _install_version(_version(final, tag), final)
    assert external.is_dir()
    assert (final / "data.txt").read_text() == "c"


def _codecs(path: Path) -> set[str]:
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(path).metadata
    return {meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)}


def test_refreshes_keep_disk_bounded_and_zstd(spark, tmp_path, monkeypatch):
    """Eight streaming refreshes of the iot DAG: each gold table keeps at
    most its current and previous version dir (the parent kept all 8),
    and every parquet file the engine wrote — streaming sinks and gold
    version dirs — and a ``stage_once`` layout are zstd, not snappy."""
    import tempfile

    from iot_simulator_datalake_spark.stagecache import stage_once

    landing, wh = tmp_path / "landing", tmp_path / "wh"
    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(landing)}, warehouse=wh)
    for i in range(8):
        write_iot_events(landing, n_events=60, n_files=1, seed=100 + i,
                         start=datetime(2024, 1, 1) + timedelta(days=7 * i))
        eng.run()

    tables = [p for p in wh.rglob("*") if p.is_symlink()
              and not p.name.endswith(".prev")]
    assert sorted(p.name for p in tables) == [
        "dim_date", "dim_locations", "fact_iot_events"]
    for t in tables:
        assert len(_versions(t)) <= 2, (t.name, sorted(_versions(t)))

    files = [p for p in wh.rglob("*.parquet") if p.is_file()]
    assert {p.relative_to(wh).parts[0] for p in files} == {
        "bronze", "silver", "gold"}
    assert set().union(*map(_codecs, files)) == {"ZSTD"}

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src / "t.parquet"))
    layout = stage_once(str(src), "t", "codec",
                        lambda work: spark.range(100).write.parquet(str(work)))
    staged = list(layout.glob("*.parquet"))
    assert staged and set().union(*map(_codecs, staged)) == {"ZSTD"}
