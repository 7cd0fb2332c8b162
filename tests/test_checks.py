"""Check-framework unit tests: generic checks, relationship (RI),
expectation policies (P9 warn/drop/fail), partitioned sinks (S9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import (
    Engine, OnViolation, Registry, accepted_values, expect, model,
    not_null, relationship, singular, unique)


@pytest.fixture()
def eng(spark, tmp_path):
    r = Registry()

    @model(r, name="child", layer="silver")
    def child(ctx):
        return ctx.spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", -5.0), (3, "zz", 7.0), (4, None, 1.0)],
            ["id", "code", "value"])

    @model(r, name="parent", layer="gold")
    def parent(ctx):
        return ctx.spark.createDataFrame([("a",), ("b",)], ["code"])

    e = Engine(spark, r, warehouse=tmp_path / "wh")
    e.run()
    return e


def test_generic_checks(eng):
    eng.add_check(not_null("silver.child", "code"))
    eng.add_check(unique("silver.child", "id"))
    eng.add_check(accepted_values("silver.child", "code", ["a", "b"]))
    results = {r.name: r for r in eng.test()}
    assert not results["not_null__silver.child__code"].passed
    assert results["unique__silver.child__id"].passed
    av = results["accepted_values__silver.child__code"]
    assert not av.passed and av.sample[0]["code"] == "zz"


def test_relationship_check(eng):
    eng.add_check(relationship("silver.child", "code",
                               "gold.parent", "code"))
    res = eng.test()[0]
    assert not res.passed
    assert {s["code"] for s in res.sample} == {"zz"}  # null excluded


def test_singular_check(eng):
    eng.add_check(singular(
        "no_negative_totals", "silver.child",
        lambda df: df.groupBy("code").agg(F.sum("value").alias("v"))
                     .filter(F.col("v") < 0)))
    res = eng.test()[0]
    assert not res.passed and res.sample[0]["code"] == "b"


def test_expectation_policies(spark):
    df = spark.createDataFrame([(1,), (2,), (-3,)], ["v"])
    metrics: dict[str, int] = {}
    # WARN: pass-through, metric recorded
    out = expect(df, "v_pos", F.col("v") > 0, OnViolation.WARN, metrics)
    assert out.count() == 3 and metrics["v_pos"] == 1
    # DROP: violating rows removed
    out = expect(df, "v_pos", F.col("v") > 0, OnViolation.DROP, metrics)
    assert out.count() == 2
    # FAIL: raises
    with pytest.raises(ValueError, match="v_pos"):
        expect(df, "v_pos", "v > 0", OnViolation.FAIL)
    # string condition accepted
    assert expect(df, "v_pos", "v > 0", OnViolation.DROP).count() == 2


def test_expectations_count_null_condition_as_violation(spark):
    """A row whose condition is NULL is a violation for every helper:
    DROP drops it, the metric counts it, FAIL raises on it, and
    expect_observed and expect_or_quarantine agree."""
    from iot_simulator_datalake_spark.engine import expect_observed
    from iot_simulator_datalake_spark.engine.checks import (
        expect_or_quarantine)
    df = spark.createDataFrame([(1.0,), (-1.0,), (None,)], "value double")
    cond = F.col("value") > 0
    metrics: dict[str, int] = {}
    kept = expect(df, "pos", cond, OnViolation.DROP, metrics)
    assert kept.count() == 1 and metrics["pos"] == 2
    with pytest.raises(ValueError, match="pos"):
        expect(df.where("value IS NULL"), "pos", cond, OnViolation.FAIL)
    out, obs = expect_observed(df, "pos", cond, OnViolation.DROP)
    assert out.count() == 1
    assert obs.get == {"n_violations": 2, "n_rows": 3}
    good, bad = expect_or_quarantine(df, "pos", "value > 0")
    assert (good.count(), bad.count()) == (1, 2)


def test_expect_observed_scan_free_metrics(spark):
    from iot_simulator_datalake_spark.engine import expect_observed
    df = spark.createDataFrame([(1,), (2,), (-3,), (-4,)], ["v"])
    out, obs = expect_observed(df, "v_pos", F.col("v") > 0,
                               OnViolation.DROP)
    kept = out.count()              # the caller's one action
    assert kept == 2
    assert obs.get == {"n_violations": 2, "n_rows": 4}


def test_check_history_in_event_log(spark, tmp_path):
    """The event log is the persisted check history: each test() appends
    one check_result row per check, in registration order, and nothing
    else is written under the warehouse."""
    import json

    from iot_simulator_datalake_spark.engine.eventlog import EventLog

    r = Registry()

    @model(r, name="t", layer="silver")
    def t(ctx):
        return ctx.spark.createDataFrame([(1,), (None,)], "id int")

    e = Engine(spark, r, warehouse=tmp_path / "wh")
    e.event_log = EventLog(tmp_path / "events.jsonl")
    e.run()
    e.add_check(not_null("silver.t", "id"))
    e.add_check(unique("silver.t", "id"))
    e.test()
    e.test()            # second run appends
    rows = [rec for line in
            (tmp_path / "events.jsonl").read_text().splitlines()
            if (rec := json.loads(line))["event_type"] == "check_result"]
    assert [(x["check"], x["passed"], x["n_violations"]) for x in rows] == [
        ("not_null__silver.t__id", False, 1),
        ("unique__silver.t__id", True, 0)] * 2
    assert not (tmp_path / "wh").exists()


def test_partitioned_table_sink(spark, tmp_path):
    """S9: partitioned ingestion — partition dirs exist and partition
    pruning applies on read."""
    r = Registry()

    @model(r, name="events", layer="bronze", materialization="table",
           partition_by=("dt",))
    def events(ctx):
        return ctx.spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-02", 2)], ["dt", "v"])

    e = Engine(spark, r, warehouse=tmp_path / "wh")
    e.run()
    root = tmp_path / "wh" / "bronze" / "events"
    assert (root / "dt=2024-01-01").exists()
    pruned = e.table("bronze.events").filter(F.col("dt") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.collect()[0]["v"] == 2
    # partition filter reached the scan (no data filter on dt)
    assert "PartitionFilters" in plan


def test_freshness_check(eng, spark):
    """dbt-source-freshness analog: stale max(ts) fails, fresh passes,
    and the violation relation is the 1-row global max."""
    from datetime import datetime, timedelta
    from iot_simulator_datalake_spark.engine import freshness

    now = datetime(2024, 6, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, now - timedelta(hours=3)), (2, now - timedelta(hours=2))],
        ["id", "ts"])
    df.createOrReplaceTempView("fresh_src")

    stale = freshness("fresh_src", "ts", max_lag_seconds=3600,
                      now=lambda: now)
    fresh = freshness("fresh_src", "ts", max_lag_seconds=3 * 3600,
                      now=lambda: now)
    assert stale.builder(spark.table("fresh_src")).count() == 1
    assert fresh.builder(spark.table("fresh_src")).count() == 0


def test_expect_or_quarantine_splits_with_audit(spark):
    from pyspark.sql import functions as F
    from iot_simulator_datalake_spark.engine.checks import (
        expect_or_quarantine)
    df = spark.createDataFrame(
        [(1, "good"), (2, "BAD"), (3, None), (4, "suspect")],
        "id int, flag string")
    good, bad = expect_or_quarantine(
        df, "flag_ok", F.lower(F.trim("flag")).isin("good", "suspect"))
    assert {r["id"] for r in good.collect()} == {1, 4}
    rej = bad.collect()
    # NULL flag rows are quarantined, not silently dropped
    assert {r["id"] for r in rej} == {2, 3}
    assert all(r["_failed_expectation"] == "flag_ok" for r in rej)
    assert all(r["_quarantined_at"] is not None for r in rej)


def test_metric_rejects_unknown_agg():
    import pytest
    from iot_simulator_datalake_spark.engine.metrics import Metric
    with pytest.raises(ValueError, match="unknown agg"):
        Metric("x", "median", "v").column()


def test_masking_capability_grants(spark):
    from iot_simulator_datalake_spark.engine.masking import (
        MaskPolicy, apply_masks)
    df = spark.createDataFrame([(1, "alice", 1234.5)],
                               "id int, name string, bal double")
    pol = [MaskPolicy("name", "hash"), MaskPolicy("bal", "null"),
           MaskPolicy("ghost", "hash")]   # missing column: ignored
    masked = apply_masks(df, pol).collect()[0]
    assert masked["name"] != "alice" and len(masked["name"]) == 32
    assert masked["bal"] is None
    # holder of the capability sees raw values
    raw = apply_masks(df, pol, capabilities=["pii:read"]).collect()[0]
    assert raw["name"] == "alice" and raw["bal"] == 1234.5


def test_unique_check_on_column_named_count(spark):
    """groupBy(col).count() with a tested column itself named 'count'
    used to raise AMBIGUOUS_REFERENCE instead of evaluating."""
    from iot_simulator_datalake_spark.engine import Engine, Registry
    from iot_simulator_datalake_spark.engine.checks import unique
    eng = Engine(spark, Registry())
    eng.register("t.counts", spark.createDataFrame(
        [(1,), (2,), (2,)], ["count"]))
    res = unique("t.counts", "count").run(eng)
    assert not res.passed and res.violations == 1


def test_expect_observed_rejects_fail(spark):
    """FAIL cannot be enforced scan-free — silently downgrading to
    WARN dropped the enforcement the caller asked for; it must raise."""
    import pytest
    from iot_simulator_datalake_spark.engine import expect_observed
    from iot_simulator_datalake_spark.engine.checks import OnViolation
    df = spark.range(3)
    with pytest.raises(ValueError, match="FAIL"):
        expect_observed(df, "gate", "id >= 0",
                        on_violation=OnViolation.FAIL)
