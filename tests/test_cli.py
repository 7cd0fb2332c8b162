"""CLI surface tests (``python -m iot_simulator_datalake_spark``):
docs/lineage print the registry-derived relations without a Spark
session; optimize drives the maintenance + manifest path end-to-end.
"""

from __future__ import annotations

from iot_simulator_datalake_spark.__main__ import main


def _registry_models() -> set[str]:
    from iot_simulator_datalake_spark.pipeline import build_registry
    from iot_simulator_datalake_spark.pipeline.corpus_models import (
        build_corpus_registry)
    return {m.qualified_name for reg in (build_registry(streaming=False),
                                         build_corpus_registry())
            for m in reg}


def test_docs_lists_all_models(capsys):
    """One printed row per model of both registries, keyed by qualified
    name: bronze and silver models share a bare name (iot_events,
    documents), and neither may overwrite the other."""
    assert main(["docs"]) == 0
    out = capsys.readouterr().out
    # the model column of each row (a model named only in another row's
    # deps does not count)
    listed = [line.split()[1] for line in out.splitlines()
              if line.startswith("  [")]
    assert sorted(listed) == sorted(_registry_models())
    assert len(listed) == 9


def test_lineage_prints_edges(capsys):
    assert main(["lineage"]) == 0
    out = capsys.readouterr().out
    assert "silver.iot_events -> gold.fact_iot_events" in out
    assert "bronze.iot_events -> silver.iot_events" in out


def test_optimize_zorder_and_manifests(spark, tmp_path, capsys):
    from pyspark.sql import functions as F
    path = tmp_path / "t"
    (spark.range(5000)
     .select((F.col("id") % 50).alias("a"),
             ((F.col("id") * 31) % 50).alias("b"))
     .repartition(4).write.mode("overwrite").parquet(str(path)))
    assert main(["optimize", str(path), "--cluster-by", "a", "b",
                 "--stats", "a", "b", "--bloom", "a"]) == 0
    out = capsys.readouterr().out
    assert "z-ordered" in out and "stats manifest" in out \
        and "bloom manifest" in out
    from iot_simulator_datalake_spark.engine.skipping import (
        prune_files_eq, read_stats_manifest)
    m = read_stats_manifest(path)
    assert m["files"] and "bloom" in m
    assert prune_files_eq(path, "a", 7)          # present value kept


def test_cli_runs_sql_project(tmp_path, capsys):
    """`run --project DIR` drives a dbt-SQL project end-to-end, and
    `test --project DIR` attaches + runs its dbt tests."""
    import os
    import pytest
    if not os.path.isdir("/root/reference/models"):
        pytest.skip("reference checkout not present")
    from conftest import write_iot_events
    from iot_simulator_datalake_spark.__main__ import main

    land = tmp_path / "iot_events"
    write_iot_events(land, n_events=800)
    rc = main(["run", "--project", "/root/reference",
               "--landing", str(land),
               "--warehouse", str(tmp_path / "wh"), "--atomic"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "gold.fact_iot_events" in out


def test_docs_manifest(spark, tmp_path):
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline import build_registry
    eng = Engine(spark, build_registry(streaming=False),
                 warehouse=tmp_path / "wh")
    man = eng.docs_manifest()
    names = {m["name"] for m in man["models"]}
    assert "gold.fact_iot_events" in names and len(man["models"]) == 5
    silver = next(m for m in man["models"]
                  if m["name"] == "silver.iot_events")
    assert silver["contract"]["value"] == "double"   # enforced contract
    assert silver["depends_on"] == ["bronze.iot_events"]
    import json
    json.dumps(man)   # fully serializable


def test_cli_test_writes_event_log(spark, tmp_path, capsys):
    """`test` logs by default: the run's models and the reference checks
    land in <warehouse>/_event_log/events.jsonl, whose path is printed."""
    import json
    from conftest import write_iot_events

    land, wh = tmp_path / "iot_events", tmp_path / "wh"
    write_iot_events(land, n_events=400, n_files=2)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        rc = main(["test", "--batch", "--landing", str(land),
                   "--warehouse", str(wh)])
    finally:
        spark.conf.set(key, prev)
    assert rc == 0
    path = wh / "_event_log" / "events.jsonl"
    assert f"event log: {path}" in capsys.readouterr().out
    kinds = [json.loads(line)["event_type"]
             for line in path.read_text().splitlines()]
    assert kinds.count("model_materialized") == 5
    assert kinds.count("check_result") == 11
    assert kinds.count("run_finished") == 1


def test_run_with_unknown_selector_exits_2(tmp_path, capsys):
    """``run --select`` with a mistyped model prints the error and exits
    2, as ``optimize`` does, before any model runs."""
    rc = main(["run", "--batch", "--warehouse", str(tmp_path / "wh"),
               "--landing", str(tmp_path / "landing"),
               "--select", "gold.fact_iot_event"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "unknown selector" in err and "gold.fact_iot_event" in err
    assert not (tmp_path / "wh").exists()
