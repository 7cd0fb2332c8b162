"""Engine framework unit tests: registry, DAG, materializations, config."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine, Registry, model


def make_registry():
    r = Registry()

    @model(r, name="base", layer="bronze")
    def base(ctx):
        return ctx.spark.range(10).withColumn("v", F.col("id") * 2)

    @model(r, name="mid", layer="silver", depends_on=("bronze.base",),
           materialization="table")
    def mid(ctx):
        return ctx.ref("bronze.base").filter(F.col("id") >= 5)

    @model(r, name="left", layer="gold", depends_on=("silver.mid",))
    def left(ctx):
        return ctx.ref("silver.mid").select(F.sum("v").alias("s"))

    @model(r, name="right", layer="gold", depends_on=("silver.mid",))
    def right(ctx):
        return ctx.ref("silver.mid").select(F.count("v").alias("n"))

    return r


def test_toposort_orders_dependencies():
    r = make_registry()
    order = [m.qualified_name for m in r.toposort()]
    assert order.index("bronze.base") < order.index("silver.mid")
    assert order.index("silver.mid") < order.index("gold.left")
    assert order.index("silver.mid") < order.index("gold.right")


def test_levels_group_independent_models():
    r = make_registry()
    waves = [[m.qualified_name for m in wave] for wave in r.levels()]
    assert waves[0] == ["bronze.base"]
    assert waves[1] == ["silver.mid"]
    assert sorted(waves[2]) == ["gold.left", "gold.right"]


def test_select_limits_to_upstream_closure():
    r = make_registry()
    names = [m.qualified_name for m in r.toposort(select=["gold.left"])]
    assert names == ["bronze.base", "silver.mid", "gold.left"]


def test_cycle_detection():
    r = Registry()

    @model(r, name="a", layer="x", depends_on=("x.b",))
    def a(ctx):
        return None

    @model(r, name="b", layer="x", depends_on=("x.a",))
    def b(ctx):
        return None

    with pytest.raises(Exception):
        r.toposort()


def test_undeclared_ref_rejected(spark, tmp_path):
    r = Registry()

    @model(r, name="src", layer="bronze")
    def src(ctx):
        return ctx.spark.range(3)

    @model(r, name="bad", layer="silver", depends_on=())
    def bad(ctx):
        return ctx.ref("bronze.src")  # not in depends_on → error

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    with pytest.raises(KeyError, match="not declared"):
        eng.run()


def test_run_materializes_and_registers(spark, tmp_path):
    r = make_registry()
    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    result = eng.run()
    assert set(result.materialized) == {
        "bronze.base", "silver.mid", "gold.left", "gold.right"}
    # table materialization persisted parquet and reads back
    assert (tmp_path / "wh" / "silver" / "mid").exists()
    assert eng.table("gold.left").collect()[0]["s"] == sum(2 * i for i in range(5, 10))
    assert eng.table("gold.right").collect()[0]["n"] == 5
    # temp view registered under dunder name
    assert spark.sql("SELECT count(*) AS c FROM silver__mid").collect()[0]["c"] == 5


def test_config_vars(spark, tmp_path):
    r = Registry()

    @model(r, name="v", layer="bronze")
    def v(ctx):
        return ctx.spark.range(int(ctx.var("n", 1)))

    eng = Engine(spark, r, config={"n": 7}, warehouse=tmp_path / "wh")
    eng.run()
    assert eng.table("bronze.v").count() == 7


def test_misspelled_model_keyword_raises():
    """A keyword the decorator does not know is an error, never silent
    metadata: ``materialisation`` would otherwise register a view."""
    r = Registry()
    with pytest.raises(TypeError):
        model(r, name="t", layer="gold", materialisation="table")


def test_backfill_rewrites_only_selected_partitions(spark, tmp_path):
    """Backfill recomputes one partition; sibling partition files stay
    byte-identical (dynamic partition overwrite)."""
    import os

    src = {"rows": [("a", 1), ("a", 2), ("b", 10)]}
    r = Registry()

    @model(r, name="agg", layer="gold", materialization="table",
           partition_by=("p",))
    def agg(ctx):
        return ctx.spark.createDataFrame(src["rows"], "p string, v long")

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    eng.run()
    table_dir = eng.table_path(r["gold.agg"])

    def part_files(p):
        d = table_dir / f"p={p}"
        return sorted((f, os.path.getmtime(d / f)) for f in os.listdir(d)
                      if f.endswith(".parquet"))

    before_b = part_files("b")
    # late data lands for partition a only → backfill just that slice
    src["rows"] = [("a", 1), ("a", 2), ("a", 3), ("b", 999)]
    out = eng.backfill("gold.agg", "p = 'a'")
    got = {(row.p, row.v) for row in out.collect()}
    # a recomputed (3 rows), b untouched (still 10, not 999)
    assert got == {("a", 1), ("a", 2), ("a", 3), ("b", 10)}
    assert part_files("b") == before_b

    # guard: non-partitioned / non-table models refuse
    @model(r, name="v", layer="gold")
    def v(ctx):
        return ctx.spark.range(1)
    with pytest.raises(ValueError):
        eng.backfill("gold.v", "1=1")


def test_backfill_preserves_reader_snapshot(spark, tmp_path):
    """backfill must stage a NEW version dir and symlink-swap like any
    other write — never mutate the live version dir an in-flight
    reader resolved (the _install_version guarantee)."""
    src = {"rows": [("a", 1), ("b", 10)]}
    r = Registry()

    @model(r, name="agg", layer="gold", materialization="table",
           partition_by=("p",))
    def agg(ctx):
        return ctx.spark.createDataFrame(src["rows"], "p string, v long")

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    eng.run()
    table_dir = eng.table_path(r["gold.agg"])
    # a reader pinned to the pre-backfill version dir (what a
    # long-running query holds after resolving the symlink)
    pinned = spark.read.parquet(str(table_dir.resolve()))
    old_target = table_dir.resolve()

    src["rows"] = [("a", 99), ("b", 10)]
    eng.backfill("gold.agg", "p = 'a'")
    # symlink retargeted to a NEW version dir; old snapshot intact
    assert table_dir.resolve() != old_target
    assert {(x.p, x.v) for x in pinned.collect()} == {("a", 1), ("b", 10)}
    assert {(x.p, x.v)
            for x in spark.read.parquet(str(table_dir)).collect()} \
        == {("a", 99), ("b", 10)}


def test_concurrent_engine_runs_serialize(spark, tmp_path):
    """Two simultaneous engine.run()s over the same warehouse: both
    finish, and every table equals ONE run's complete output (the
    staged-write + rename-install protocol — never interleaved part
    files).  VERDICT r2 #3 'done' criterion."""
    from concurrent.futures import ThreadPoolExecutor

    def build(tag):
        reg = Registry()

        @model(reg, name="base", layer="silver", materialization="table")
        def base(ctx):
            return ctx.spark.range(100).withColumn("tag", F.lit(tag))

        @model(reg, name="agg", layer="gold", materialization="table",
               depends_on=("silver.base",))
        def agg(ctx):
            return (ctx.ref("silver.base").groupBy("tag")
                    .agg(F.count("*").alias("n")))
        return Engine(spark, reg, warehouse=tmp_path / "wh")

    engines = [build("alpha"), build("beta")]
    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(lambda e: e.run(), engines))
    assert all(len(r.materialized) == 2 for r in results)

    for sub in ("silver/base", "gold/agg"):
        df = spark.read.parquet(str(tmp_path / "wh" / sub))
        tags = {r["tag"] for r in df.select("tag").distinct().collect()}
        assert len(tags) == 1, f"{sub} interleaved two writers: {tags}"
    base = spark.read.parquet(str(tmp_path / "wh" / "silver" / "base"))
    assert base.count() == 100
    # no dangling temp links; superseded .v-* dirs are RETAINED by
    # design (in-flight readers) until vacuum_table_versions
    leftovers = [p for p in (tmp_path / "wh").rglob("*")
                 if ".ln-" in p.name or ".tmp" in p.name]
    assert not leftovers
    # vacuum reclaims every non-current version and reads still work
    from iot_simulator_datalake_spark.engine.publish import (
        vacuum_table_versions)
    for sub in ("silver/base", "gold/agg"):
        vacuum_table_versions(tmp_path / "wh" / sub)
    assert spark.read.parquet(
        str(tmp_path / "wh" / "silver" / "base")).count() == 100


def test_atomic_publish_all_or_nothing(spark, tmp_path):
    """run(atomic_publish=True): a failure in any model leaves every
    table at its pre-run state; on success all tables flip together."""
    import pytest

    def build(tag, fail_second=False):
        reg = Registry()

        @model(reg, name="base", layer="silver", materialization="table")
        def base(ctx):
            return ctx.spark.range(50).withColumn("tag", F.lit(tag))

        @model(reg, name="agg", layer="gold", materialization="table",
               depends_on=("silver.base",))
        def agg(ctx):
            if fail_second:
                raise RuntimeError("boom")
            return (ctx.ref("silver.base").groupBy("tag")
                    .agg(F.count("*").alias("n")))
        return Engine(spark, reg, warehouse=tmp_path / "wh")

    # seed a good published state
    build("v1").run(atomic_publish=True)
    base_p = tmp_path / "wh" / "silver" / "base"
    assert spark.read.parquet(str(base_p)).select("tag").first()["tag"] == "v1"

    # failing run: NOTHING published, staged version dirs cleaned up
    with pytest.raises(RuntimeError, match="boom"):
        build("v2", fail_second=True).run(atomic_publish=True)
    assert spark.read.parquet(str(base_p)).select("tag").first()["tag"] == "v1"
    # the failed run's staged version dir was cleaned up: only the
    # currently-linked version dir remains
    import os
    assert {p.name for p in base_p.parent.glob("base.v-*")} \
        == {os.readlink(base_p)}

    # successful second run publishes everything
    build("v3").run(atomic_publish=True)
    assert spark.read.parquet(str(base_p)).select("tag").first()["tag"] == "v3"


def test_model_contract_enforced(spark, tmp_path):
    """dbt contract:enforced parity — schema checked lazily before any
    write; violations name every problem."""
    import pytest
    from iot_simulator_datalake_spark.engine.runner import (
        ContractViolation)

    def build(good):
        reg = Registry()

        @model(reg, name="t", layer="silver", materialization="table",
               contract={"id": "bigint", "tag": "string"})
        def t(ctx):
            df = ctx.spark.range(5).withColumn("tag", F.lit("x"))
            if not good:
                df = df.withColumn("extra", F.lit(1)) \
                       .withColumn("tag", F.lit(2))  # wrong type too
            return df
        return Engine(spark, reg, warehouse=tmp_path / "wh")

    build(good=True).run()          # conforming build passes
    with pytest.raises(ContractViolation) as e:
        build(good=False).run()
    msg = str(e.value)
    assert "tag: got int" in msg and "undeclared column 'extra'" in msg


def test_select_graph_operators():
    """dbt selector parity: 'name' = upstream closure; 'name+' adds all
    descendants (each with its own upstream closure)."""
    r = make_registry()   # bronze.base -> silver.mid -> {gold.left, gold.right}
    plain = {m.qualified_name for m in r.toposort(["silver.mid"])}
    assert plain == {"bronze.base", "silver.mid"}
    plus = {m.qualified_name for m in r.toposort(["silver.mid+"])}
    assert plus == {"bronze.base", "silver.mid", "gold.left", "gold.right"}
    # '+name' is accepted as an explicit spelling of the default
    explicit = {m.qualified_name for m in r.toposort(["+silver.mid"])}
    assert explicit == plain


def test_unknown_selector_is_a_value_error():
    """A mistyped selector names itself in a ValueError (it used to
    surface as a bare KeyError from the graph walk)."""
    r = make_registry()
    for sel in (["gold.lefty"], ["silver.midd+"], ["silver.mid", "+nope"]):
        with pytest.raises(ValueError, match="unknown selector"):
            r.toposort(sel)
    with pytest.raises(ValueError, match="gold.lefty"):
        r.levels(["gold.lefty"])
