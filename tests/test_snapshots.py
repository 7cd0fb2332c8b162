"""Snapshot versioning + time travel: immutable versions, the OCC
commit log, negative indexing, as-of lookup, vacuum retention, and the
Engine's snapshot_keep tables — ordinary engine tables whose install
log is their history, so they are path-readable, compactable,
backfillable and deferred under ``atomic_publish``."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine.model import Registry, model
from iot_simulator_datalake_spark.engine.runner import Engine
from iot_simulator_datalake_spark.engine.snapshots import (
    read_snapshot, read_snapshot_as_of, versions, write_snapshot)


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id"), F.lit(tag).alias("tag"))


def test_versions_are_immutable_and_time_travelable(spark, tmp_path):
    tbl = tmp_path / "snap"
    assert write_snapshot(_df(spark, 10, "a"), tbl) == 0
    t_between = time.time()
    time.sleep(1.1)  # manifest timestamps have 1s resolution
    assert write_snapshot(_df(spark, 20, "b"), tbl) == 1

    assert versions(tbl) == [0, 1]
    assert read_snapshot(spark, tbl).count() == 20          # current
    assert read_snapshot(spark, tbl, 0).count() == 10       # explicit
    assert read_snapshot(spark, tbl, -1).count() == 10      # relative
    assert (read_snapshot_as_of(spark, tbl, t_between)
            .agg(F.max("tag")).collect()[0][0] == "a")

    with pytest.raises(KeyError):
        read_snapshot(spark, tbl, 7)


def test_vacuum_keeps_newest(spark, tmp_path):
    tbl = tmp_path / "snap"
    for i in range(4):
        write_snapshot(_df(spark, i + 1, f"t{i}"), tbl, keep=2)
    assert versions(tbl) == [2, 3]
    assert read_snapshot(spark, tbl).count() == 4
    with pytest.raises(KeyError):
        read_snapshot(spark, tbl, 0)  # vacuumed


def test_engine_snapshot_materialization(spark, tmp_path):
    reg = Registry()
    state = {"tag": "first"}

    @model(reg, name="t", layer="gold", materialization="table",
           snapshot_keep=3)
    def t(ctx):
        return _df(ctx.spark, 5, state["tag"])

    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    eng.run()
    state["tag"] = "second"
    eng.run()

    path = eng.table_path(reg["gold.t"])
    assert versions(path) == [0, 1]
    # registered relation is the NEW version…
    assert (eng.table("gold.t").agg(F.max("tag")).collect()[0][0]
            == "second")
    # …and the old one is still queryable (time travel)
    assert (read_snapshot(spark, path, 0)
            .agg(F.max("tag")).collect()[0][0] == "first")


def test_snapshot_diff_multiset_and_keyed(spark, tmp_path):
    """snapshot_diff: exceptAll multiset diff without keys; CDF-style
    update_pre/postimage classification with keys."""
    from iot_simulator_datalake_spark.engine.snapshots import (
        snapshot_diff, write_snapshot)
    tbl = tmp_path / "t"
    v0 = write_snapshot(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]), tbl)
    v1 = write_snapshot(spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["id", "val"]), tbl)

    plain = snapshot_diff(spark, tbl, v0, v1)
    got = {(r["id"], r["val"], r["_change_type"]) for r in plain.collect()}
    assert got == {(2, "B", "insert"), (4, "d", "insert"),
                   (2, "b", "delete"), (3, "c", "delete")}

    keyed = snapshot_diff(spark, tbl, v0, v1, keys=("id",))
    got = {(r["id"], r["val"], r["_change_type"]) for r in keyed.collect()}
    assert got == {(2, "b", "update_preimage"),
                   (2, "B", "update_postimage"),
                   (4, "d", "insert"), (3, "c", "delete")}

    # unchanged rows never appear
    assert not [r for r in got if r[0] == 1]


def test_concurrent_snapshot_writers_both_commit(spark, tmp_path):
    """OCC commit protocol (VERDICT r2 #3): two simultaneous
    write_snapshot calls must BOTH commit (distinct versions), and the
    table must equal one of the two serializable outcomes — never an
    interleaving."""
    from concurrent.futures import ThreadPoolExecutor
    from iot_simulator_datalake_spark.engine.snapshots import (
        read_snapshot, versions, write_snapshot)
    tbl = tmp_path / "t"

    def writer(tag):
        df = spark.createDataFrame(
            [(i, tag) for i in range(200)], ["id", "tag"])
        return write_snapshot(df, tbl)

    with ThreadPoolExecutor(max_workers=2) as pool:
        va, vb = list(pool.map(writer, ["alpha", "beta"]))

    assert sorted([va, vb]) == [0, 1]          # both committed, no clobber
    assert versions(tbl) == [0, 1]
    # each committed version is exactly one writer's complete output
    for v in (0, 1):
        rows = read_snapshot(spark, tbl, v).collect()
        tags = {r["tag"] for r in rows}
        assert len(rows) == 200 and len(tags) == 1
    # current == the later committer's complete snapshot
    cur = {r["tag"] for r in read_snapshot(spark, tbl).collect()}
    assert len(cur) == 1


def test_occ_eight_writer_fuzz(spark, tmp_path):
    """Commit-protocol fuzz: 8 concurrent writers × 2 rounds each must
    yield 16 distinct consecutive versions, each a complete snapshot of
    exactly one writer's payload — no lost updates, no interleaving,
    no duplicate version numbers."""
    from concurrent.futures import ThreadPoolExecutor
    from iot_simulator_datalake_spark.engine.snapshots import (
        read_snapshot, versions, write_snapshot)
    tbl = tmp_path / "t"

    def writer(tag):
        out = []
        for r in range(2):
            df = spark.createDataFrame(
                [(i, f"{tag}:{r}") for i in range(50)], ["id", "tag"])
            out.append(write_snapshot(df, tbl))
        return out

    with ThreadPoolExecutor(max_workers=8) as pool:
        claimed = [v for vs in pool.map(writer, range(8)) for v in vs]

    assert sorted(claimed) == list(range(16))      # no dupes, no gaps
    assert versions(tbl) == list(range(16))
    for v in range(16):
        rows = read_snapshot(spark, tbl, v).collect()
        assert len(rows) == 50
        assert len({r["tag"] for r in rows}) == 1  # one writer's payload


def _tags(df) -> set[str]:
    return {r["tag"] for r in df.select("tag").distinct().collect()}


def test_snapshot_model_reads_its_prior_version(spark, tmp_path):
    """``ctx.this()`` of a snapshot_keep model is its published table:
    None before the first run, the previous run's rows on the next."""
    reg, seen = Registry(), []

    @model(reg, name="t", layer="gold", materialization="table",
           snapshot_keep=3)
    def t(ctx):
        prior = ctx.this()
        seen.append(None if prior is None else _tags(prior))
        return _df(ctx.spark, 5, f"run{len(seen)}")

    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    eng.run()
    eng.run()
    assert seen == [None, {"run1"}]


def test_snapshot_table_is_path_readable_and_compactable(spark, tmp_path):
    """A snapshot_keep=3 table reads by path, compacts, and keeps 3
    versions through installs that do not come from the model."""
    from iot_simulator_datalake_spark.engine.maintenance import (
        compact, table_file_stats)
    reg, state = Registry(), {"n": 0}

    @model(reg, name="t", layer="gold", materialization="table",
           snapshot_keep=3)
    def t(ctx):
        state["n"] += 1
        return _df(ctx.spark, 40, f"run{state['n']}").repartition(4)

    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    path = eng.table_path(reg["gold.t"])
    for _ in range(3):
        eng.run()
    assert _tags(spark.read.parquet(str(path))) == {"run3"}
    assert compact(spark, path, target_file_bytes=1 << 30) == 1
    assert versions(path) == [1, 2, 3]
    eng.run()
    assert compact(spark, path, target_file_bytes=1 << 30) == 1
    assert versions(path) == [3, 4, 5]
    assert len(list(path.parent.glob("t.v-*"))) == 3
    assert table_file_stats(path)[0] == 1
    assert spark.read.parquet(str(path)).count() == 40
    assert _tags(read_snapshot(spark, path, -2)) == {"run3"}


def test_backfill_of_snapshot_model_is_a_new_version(spark, tmp_path):
    """Backfilling a partitioned snapshot_keep model installs a new
    version; the pre-backfill table stays readable as version -1."""
    src = {"rows": [("a", 1), ("b", 10)]}
    reg = Registry()

    @model(reg, name="snap", layer="gold", materialization="table",
           partition_by=("p",), snapshot_keep=3)
    def snap(ctx):
        return ctx.spark.createDataFrame(src["rows"], "p string, v long")

    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    eng.run()
    src["rows"] = [("a", 99), ("b", 10)]
    eng.backfill("gold.snap", "p = 'a'")
    path = eng.table_path(reg["gold.snap"])

    def rows(df):
        return {(r["p"], r["v"]) for r in df.collect()}

    assert versions(path) == [0, 1]
    assert rows(read_snapshot(spark, path)) == {("a", 99), ("b", 10)}
    assert rows(read_snapshot(spark, path, -1)) == {("a", 1), ("b", 10)}


def test_failed_atomic_run_leaves_snapshot_versions(spark, tmp_path):
    """A failing ``run(atomic_publish=True)`` commits no version of a
    snapshot_keep table: it is deferred like every other table."""
    reg, state = Registry(), {"tag": "first", "fail": False}

    @model(reg, name="t", layer="gold", materialization="table",
           snapshot_keep=3)
    def t(ctx):
        return _df(ctx.spark, 5, state["tag"])

    @model(reg, name="after", layer="gold", materialization="table",
           depends_on=("gold.t",))
    def after(ctx):
        if state["fail"]:
            raise RuntimeError("boom")
        return ctx.ref("gold.t")

    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    eng.run(atomic_publish=True)
    path = eng.table_path(reg["gold.t"])
    state.update(tag="second", fail=True)
    with pytest.raises(RuntimeError, match="boom"):
        eng.run(atomic_publish=True)
    assert versions(path) == [0]
    assert _tags(read_snapshot(spark, path)) == {"first"}
    assert len(list(path.parent.glob("t.v-*"))) == 1


def test_snapshot_keep_must_be_positive():
    from iot_simulator_datalake_spark.engine.model import Model
    with pytest.raises(ValueError, match="snapshot_keep"):
        Model(name="t", layer="gold", builder=lambda ctx: None,
              materialization="table", snapshot_keep=0)
