"""Grants / governance tests (engine/grants.py — the reference's
01-setup-sp-permissions.sql surface): parser parity on the reference's
own script, UC inheritance + USE-chain semantics, engine-boundary
enforcement, audit log, and the python-vs-relational semantic lock."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine, Registry, model
from iot_simulator_datalake_spark.engine.grants import (
    Grant, GrantRegistry, audit_df, grants_df)

REF_SQL = "/root/reference/01-setup-sp-permissions.sql"
SP = "a1126402-7cc5-4067-99be-feb57b1d2b7c"


def full_reg(principal: str = "sp") -> GrantRegistry:
    """The reference's grant set for one principal, built via the API."""
    r = GrantRegistry()
    r.grant(principal, "USE CATALOG", "CATALOG", "dev_catalog")
    for s in ("bronze", "silver", "gold"):
        for p in ("USE SCHEMA", "CREATE TABLE", "MODIFY", "SELECT"):
            r.grant(principal, p, "SCHEMA", f"dev_catalog.{s}")
    return r


# -- parser ----------------------------------------------------------------

def test_parse_reference_script_byte_unmodified():
    """Parity proof: the reference's own setup script parses into
    exactly the grant set its comments describe (multi-privilege lists,
    backticked principal, comments and SHOW GRANTS ignored; duplicate
    re-grants across the file's two sections are idempotent)."""
    if not os.path.isfile(REF_SQL):
        pytest.skip("reference checkout absent")
    reg = GrantRegistry()
    n = reg.parse_sql(open(REF_SQL).read())
    got = {(g.privilege, g.securable_type, g.securable)
           for g in reg.show_grants(to=SP)}
    expect = {("USE CATALOG", "CATALOG", "dev_catalog"),
              ("CREATE SCHEMA", "CATALOG", "dev_catalog"),
              ("READ VOLUME", "VOLUME", "dev_catalog.landing.vol01")}
    for s in ("bronze", "silver", "gold"):
        for p in ("USE SCHEMA", "CREATE TABLE", "MODIFY", "SELECT"):
            expect.add((p, "SCHEMA", f"dev_catalog.{s}"))
    assert got == expect and n == len(expect)
    # the service principal passes the checks the reference's jobs need
    assert reg.authorize(SP, "SELECT", "SCHEMA", "dev_catalog.silver")
    # Honest parity finding: the script grants READ VOLUME but never
    # USE SCHEMA on the landing schema, so under UC's documented rule
    # (volume access needs the USE chain) the chain is INCOMPLETE —
    # on Databricks it worked because the SP owns/created the landing
    # schema (02-setup grants CREATE SCHEMA), and ownership implies
    # the USE privileges.  We model explicit grants only, so:
    assert not reg.authorize(SP, "READ VOLUME", "VOLUME",
                             "dev_catalog.landing.vol01")
    reg.grant(SP, "USE SCHEMA", "SCHEMA", "dev_catalog.landing")
    assert reg.authorize(SP, "READ VOLUME", "VOLUME",
                         "dev_catalog.landing.vol01")


def test_grant_validation():
    with pytest.raises(ValueError):
        Grant("p", "DROP", "SCHEMA", "c.s")          # unknown privilege
    with pytest.raises(ValueError):
        Grant("p", "SELECT", "SCHEMA", "justcatalog")  # wrong arity
    with pytest.raises(ValueError):
        Grant("p", "SELECT", "TABLE", "c.s.t")       # unknown securable


# -- decision semantics ----------------------------------------------------

def test_use_chain_gates_data_privileges():
    reg = GrantRegistry()
    reg.grant("p", "SELECT", "SCHEMA", "dev_catalog.bronze")
    # SELECT without USE CATALOG: dead
    assert not reg.authorize("p", "SELECT", "SCHEMA", "dev_catalog.bronze")
    reg.grant("p", "USE CATALOG", "CATALOG", "dev_catalog")
    # still dead without USE SCHEMA
    assert not reg.authorize("p", "SELECT", "SCHEMA", "dev_catalog.bronze")
    reg.grant("p", "USE SCHEMA", "SCHEMA", "dev_catalog.bronze")
    assert reg.authorize("p", "SELECT", "SCHEMA", "dev_catalog.bronze")
    # and never on a schema the grant doesn't cover
    assert not reg.authorize("p", "SELECT", "SCHEMA", "dev_catalog.gold")


def test_catalog_level_grants_inherit():
    reg = GrantRegistry()
    reg.grant("p", "USE CATALOG", "CATALOG", "dev_catalog")
    reg.grant("p", "USE SCHEMA", "CATALOG", "dev_catalog")
    reg.grant("p", "SELECT", "CATALOG", "dev_catalog")
    for s in ("bronze", "silver", "gold"):
        assert reg.authorize("p", "SELECT", "SCHEMA", f"dev_catalog.{s}")
    assert not reg.authorize("p", "MODIFY", "SCHEMA", "dev_catalog.gold")
    # other catalogs unaffected
    assert not reg.authorize("p", "SELECT", "SCHEMA", "prod_catalog.gold")


def test_volume_requires_schema_chain():
    reg = GrantRegistry()
    reg.grant("p", "READ VOLUME", "VOLUME", "dev_catalog.landing.vol01")
    assert not reg.authorize("p", "READ VOLUME", "VOLUME",
                             "dev_catalog.landing.vol01")
    reg.grant("p", "USE CATALOG", "CATALOG", "dev_catalog")
    reg.grant("p", "USE SCHEMA", "SCHEMA", "dev_catalog.landing")
    assert reg.authorize("p", "READ VOLUME", "VOLUME",
                         "dev_catalog.landing.vol01")


def test_show_grants_filters():
    reg = full_reg("a").grant("b", "SELECT", "SCHEMA", "dev_catalog.gold")
    assert {g.principal for g in reg.show_grants(to="b")} == {"b"}
    on_gold = reg.show_grants(on="dev_catalog.gold")
    assert {g.principal for g in on_gold} == {"a", "b"}


# -- engine enforcement ----------------------------------------------------

def _two_model_registry():
    r = Registry()

    @model(r, name="base", layer="bronze")
    def base(ctx):
        return ctx.spark.range(5).withColumn("v", F.col("id") * 2)

    @model(r, name="agg", layer="silver", depends_on=("bronze.base",),
           materialization="table")
    def agg(ctx):
        return ctx.ref("bronze.base").select(F.sum("v").alias("s"))

    return r


def test_engine_run_authorized(spark, tmp_path):
    reg = full_reg("etl")
    eng = Engine(spark, _two_model_registry(),
                 config={"catalog": "dev_catalog"},
                 warehouse=tmp_path / "wh",
                 grants=reg, run_as="etl")
    eng.run()
    assert eng.table("silver.agg").collect()[0]["s"] == 20
    # audit recorded only allowed decisions, exposed as a DataFrame
    rows = audit_df(spark, reg).collect()
    assert rows and all(r["allowed"] for r in rows)
    assert {r["privilege"] for r in rows} >= {"SELECT", "CREATE TABLE",
                                              "MODIFY"}


def test_engine_run_denied_without_modify(spark, tmp_path):
    reg = full_reg("etl")
    # revoke-by-rebuild: same grants minus MODIFY on silver
    reg2 = GrantRegistry()
    for g in reg.grants:
        if not (g.privilege == "MODIFY"
                and g.securable == "dev_catalog.silver"):
            reg2.grant(g.principal, g.privilege, g.securable_type,
                       g.securable)
    eng = Engine(spark, _two_model_registry(),
                 config={"catalog": "dev_catalog"},
                 warehouse=tmp_path / "wh",
                 grants=reg2, run_as="etl")
    with pytest.raises(PermissionError, match="MODIFY"):
        eng.run()
    # the denial is in the audit trail
    assert any(not r["allowed"] for r in reg2.audit)


def test_engine_without_grants_unchanged(spark, tmp_path):
    eng = Engine(spark, _two_model_registry(),
                 warehouse=tmp_path / "wh")
    eng.run()
    assert eng.table("silver.agg").collect()[0]["s"] == 20


# -- semantic lock: python enforcement == relational matrix ----------------

def test_matrix_query_agrees_with_authorize(spark):
    """Every cell of the gated grant_effective_matrix query must equal
    GrantRegistry.authorize on the same grants — the relational
    restatement and the enforcement path cannot drift apart."""
    from iot_simulator_datalake_spark.queries_pipeline import (
        _GRANTS_SETUP_SQL, grant_effective_matrix)
    reg = GrantRegistry()
    reg.parse_sql(_GRANTS_SETUP_SQL)
    cells = grant_effective_matrix(spark, "").collect()
    assert len(cells) == 45
    for c in cells:
        assert c["allowed"] == reg.authorize(
            c["principal"], c["privilege"], "SCHEMA",
            f"dev_catalog.{c['schema_name']}"), dict(c.asDict())


def test_grants_df_roundtrip(spark):
    reg = full_reg("p")
    df = grants_df(spark, reg)
    assert df.count() == len(reg.grants)
    assert set(df.columns) == {"principal", "privilege",
                               "securable_type", "securable"}


def test_backfill_authorized_like_run(spark, tmp_path):
    """backfill crosses the same boundary as run() — it reads every
    upstream and rewrites target partitions — so a principal whose
    MODIFY was revoked must be denied there too (ADVICE r4: backfill
    previously bypassed _authorize entirely)."""
    r = Registry()

    @model(r, name="agg", layer="silver", materialization="table",
           partition_by=("p",))
    def agg(ctx):
        return ctx.spark.createDataFrame(
            [("a", 1), ("b", 2)], "p string, v long")

    wh = tmp_path / "wh"
    Engine(spark, r, config={"catalog": "dev_catalog"},
           warehouse=wh, grants=full_reg("etl"), run_as="etl").run()

    reg2 = GrantRegistry()
    for g in full_reg("etl").grants:
        if not (g.privilege == "MODIFY"
                and g.securable == "dev_catalog.silver"):
            reg2.grant(g.principal, g.privilege, g.securable_type,
                       g.securable)
    eng = Engine(spark, r, config={"catalog": "dev_catalog"},
                 warehouse=wh, grants=reg2, run_as="etl")
    with pytest.raises(PermissionError, match="MODIFY"):
        eng.backfill("silver.agg", "p = 'a'")
    assert any(not a["allowed"] for a in
               audit_df(spark, reg2).collect())
