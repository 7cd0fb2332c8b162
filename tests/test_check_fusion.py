"""Fused evaluation of the generic checks in ``Engine.test``: the same
results as running every check alone, in fewer Spark jobs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import (
    Engine, Registry, accepted_values, not_null, singular, unique)
from iot_simulator_datalake_spark.pipeline import (
    attach_reference_checks, build_registry)


def _alone(eng, max_sample=5):
    return [(r.name, r.passed, r.violations, r.sample)
            for r in (c.run(eng, max_sample=max_sample) for c in eng.checks)]


def _fused(eng, max_sample=5):
    return [(r.name, r.passed, r.violations, r.sample)
            for r in eng.test(max_sample=max_sample)]


@pytest.fixture()
def dirty(spark):
    """Relations holding one violation of every kind the generic
    checks test."""
    eng = Engine(spark, Registry())
    eng.register("silver.ev", spark.createDataFrame(
        [(1, "a", 1, "x"), (2, "zz", 2, None), (2, None, 2, "x"),
         (None, "b", 3, "y"), (None, "a", 3, "q")],
        "id int, code string, `count` int, `a.b` string"))
    eng.register("gold.dim", spark.createDataFrame(
        [("k1", 1), ("k2", 2), ("k2", 3)], "key string, v int"))
    eng.register("gold.flags", spark.createDataFrame(
        [("good",), ("BAD",), (None,)], "flag string"))
    return eng


def test_fused_results_equal_checks_run_alone(dirty):
    for c in (not_null("silver.ev", "code"),
              accepted_values("silver.ev", "code", ["a", "b"]),
              unique("silver.ev", "id"),          # 2 twice, NULL twice
              singular("neg_count", "silver.ev",
                       lambda df: df.filter(F.col("count") < 0)),
              unique("silver.ev", "count"),
              not_null("silver.ev", "a.b"),
              unique("silver.ev", "a.b"),
              accepted_values("silver.ev", "a.b", ["x", "y"]),
              unique("gold.dim", "key"),
              not_null("gold.dim", "key"),
              accepted_values("gold.flags", "flag", ["good", "suspect"]),
              not_null("gold.flags", "flag")):
        dirty.add_check(c)
    alone = _alone(dirty)
    fused = _fused(dirty)
    assert [r[0] for r in fused] == [c.name for c in dirty.checks]
    assert fused == alone
    assert [(r[1], r[2]) for r in fused] == [
        (False, 1), (False, 1), (False, 2), (True, 0), (False, 2),
        (False, 1), (False, 1), (False, 1), (False, 1), (True, 0),
        (False, 1), (False, 1)]


def test_fused_count_is_exact_above_the_sample_cap(dirty):
    dirty.add_check(not_null("gold.flags", "flag"))
    dirty.add_check(accepted_values("silver.ev", "code", []))
    [nn, av] = dirty.test(max_sample=0)
    assert (nn.passed, nn.violations, nn.sample) == (False, 1, [])
    assert (av.violations, av.sample) == (4, [])
    assert dirty.checks[1].run(dirty, max_sample=1).violations == 4


def test_singular_count_is_exact_above_the_sample_cap(dirty):
    """A check run alone reports every violation, not its sample size
    plus one, and still samples at most ``max_sample`` rows."""
    dirty.add_check(singular("any_row", "silver.ev", lambda df: df))
    [res] = dirty.test(max_sample=2)
    assert (res.passed, res.violations, len(res.sample)) == (False, 5, 2)


@pytest.fixture(scope="module")
def iot(spark, iot_landing, tmp_path_factory):
    landing, _ = iot_landing
    eng = Engine(spark, build_registry(streaming=False),
                 config={"iot_events_path": str(landing)},
                 warehouse=tmp_path_factory.mktemp("wh"))
    eng.run()
    attach_reference_checks(eng)
    return eng


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_checks_run_fewer_jobs_on_the_iot_dag(spark, iot):
    alone, n_alone = _jobs(spark, "checks_alone", lambda: _alone(iot))
    fused, n_fused = _jobs(spark, "checks_fused", lambda: _fused(iot))
    assert fused == alone and all(r[1] for r in fused)
    assert len(fused) == 11
    n_generic = sum(c.generic is not None for c in iot.checks)
    assert n_generic == 10
    assert n_fused <= n_alone - n_generic, (n_fused, n_alone)
