"""The engine wires what builders read: ``ctx.stream`` (⇔
``STREAM(ref(x))``), ``ctx.this`` (⇔ ``{{ this }}``) and per-model state
paths under the warehouse.  Builders never reach into the engine."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

import iot_simulator_datalake_spark as pkg
from iot_simulator_datalake_spark.engine import Engine, Registry, model
from iot_simulator_datalake_spark.pipeline import build_registry

PKG_DIR = Path(pkg.__file__).parent


def test_no_engine_reach_in_outside_model_context():
    """Only ``engine/model.py`` (``ModelContext``) touches a context's
    ``_engine``; builders go through its methods."""
    offenders = []
    for py in sorted(PKG_DIR.rglob("*.py")):
        if py == PKG_DIR / "engine" / "model.py":
            continue
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if isinstance(node, ast.Attribute) and node.attr == "_engine":
                offenders.append(f"{py.relative_to(PKG_DIR)}:{node.lineno}")
    assert offenders == []


def _landing(path: Path, extra: str) -> Path:
    path.mkdir()
    rows = [{"device_id": f"dev-{i}", "location_id": "loc-1",
             "timestamp": "2024-01-01 00:00:00", "sensor_type": "motion",
             "quality_flag": "good", "unit": "m", "value": float(i),
             extra: i} for i in range(5)]
    (path / "events.json").write_text("\n".join(map(json.dumps, rows)))
    return path


def test_schema_store_is_per_warehouse(spark, tmp_path):
    """Two streaming engines over landings with different extra fields:
    each bronze infers its own schema into its own warehouse, and
    dropping the warehouse drops the store."""
    engines = {}
    for extra in ("battery", "firmware"):
        wh = tmp_path / f"wh_{extra}"
        eng = Engine(spark, build_registry(streaming=True),
                     config={"iot_events_path": str(
                         _landing(tmp_path / f"land_{extra}", extra))},
                     warehouse=wh)
        eng.run(select=["bronze.iot_events"])
        engines[extra] = eng
    for extra, other in (("battery", "firmware"), ("firmware", "battery")):
        cols = engines[extra].table("bronze.iot_events").columns
        assert extra in cols and other not in cols
    for extra, eng in engines.items():
        store = eng.warehouse / "_schemas" / "bronze.iot_events.json"
        assert eng.state_path(eng.registry["bronze.iot_events"],
                              "schema") == store
        assert extra in store.read_text()
        eng.drop_warehouse()
        assert not store.exists()


def test_stream_from_table_upstream_raises(spark, tmp_path):
    r = Registry()

    @model(r, name="up", layer="a", materialization="table")
    def up(ctx):
        return ctx.spark.range(3)

    @model(r, name="down", layer="b", materialization="streaming_table",
           depends_on=("a.up",))
    def down(ctx):
        return ctx.stream("a.up")

    eng = Engine(spark, r, warehouse=tmp_path / "wh")
    with pytest.raises(ValueError, match=r"b\.down.*a\.up"):
        eng.run()
