"""Bounded, compact lake footprint: version install logs every version
in the table's commit log and keeps the newest two by default (the
current version and the one it replaced), and every engine write
follows one write policy (``session.RUNTIME_CONFS``): zstd, INT64
microsecond timestamps with min/max statistics, v2 data pages.  Each
test here fails under unbounded retention, a write off that policy, or
a reclaim that deletes every non-current version by glob."""

from __future__ import annotations

import ast
import json
import os
import re
import shutil
from collections import Counter
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine, Registry, model
from iot_simulator_datalake_spark.engine.incremental import (
    IncrementalAggTable, mergeable_metrics)
from iot_simulator_datalake_spark.engine.publish import (
    _install_version, new_version_dir, read_log, vacuum_table_versions)
from iot_simulator_datalake_spark.operators.scd import ApplyChanges
from iot_simulator_datalake_spark.pipeline import (
    attach_reference_checks, build_registry)
from iot_simulator_datalake_spark.session import RUNTIME_CONFS

from conftest import write_iot_events


def _version(final: Path, tag: str) -> Path:
    d = new_version_dir(final)
    d.mkdir()
    (d / "data.txt").write_text(tag)
    return d


def _versions(final: Path) -> set[str]:
    return {p.name for p in final.parent.glob(f"{final.name}.v-*")}


def _logged(final: Path) -> list[str]:
    """The version dirs the table's log names, oldest first."""
    log = read_log(final)
    return [log[n]["dir"] for n in sorted(log)]


def test_staged_version_survives_other_installs(tmp_path):
    """A version dir written but not yet installed (a concurrent
    writer's) survives any number of another writer's installs, and
    installs cleanly afterwards."""
    final = tmp_path / "tbl"
    staged = _version(final, "slow")
    installed = []
    for tag in ("a", "b", "c"):
        installed.append(_version(final, tag).name)
        _install_version(final.with_name(installed[-1]), final)
    assert (staged / "data.txt").read_text() == "slow"
    assert _logged(final) == installed[1:]
    assert os.readlink(final) == installed[-1]
    assert _versions(final) == {staged.name, *installed[1:]}
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
    assert _versions(base_p) == set(_logged(base_p))
    assert len(_logged(base_p)) == 2
    assert _logged(base_p)[-1] == os.readlink(base_p)


def test_install_after_vacuum_and_lost_prev_target(tmp_path):
    """``vacuum_table_versions`` drops the old versions with their log
    entries; installs keep working after it, and after the previous
    version's dir was deleted by hand."""
    final = tmp_path / "tbl"
    for tag in ("a", "b", "c"):
        _install_version(_version(final, tag), final)
    assert len(vacuum_table_versions(final)) == 1
    assert _logged(final) == [os.readlink(final)]
    assert _versions(final) == {os.readlink(final)}

    _install_version(_version(final, "d"), final)
    prev = final.with_name(_logged(final)[0])
    assert (final / "data.txt").read_text() == "d"
    assert (prev / "data.txt").read_text() == "c"

    shutil.rmtree(prev)
    _install_version(_version(final, "e"), final)
    assert (final / "data.txt").read_text() == "e"
    prev = final.with_name(_logged(final)[0])
    assert (prev / "data.txt").read_text() == "d"
    assert _versions(final) == set(_logged(final)) == {
        os.readlink(final), prev.name}


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


def test_parent_layout_table_stays_bounded(tmp_path):
    """A table published before the log existed — a symlink plus a
    ``<name>.prev`` link to the version before — keeps refreshing with
    two versions: its first install adopts both old versions into the
    log, so they are reclaimed like any other, and drops ``.prev``."""
    final, prev = tmp_path / "tbl", tmp_path / "tbl.prev"
    a, b = _version(final, "a"), _version(final, "b")
    os.symlink(b.name, final)
    os.symlink(a.name, prev)
    for tag in ("c", "d", "e", "f"):
        _install_version(_version(final, tag), final)
        assert (final / "data.txt").read_text() == tag
        assert _versions(final) == set(_logged(final))
        assert len(_logged(final)) == 2
    assert not os.path.lexists(prev)


def test_racing_installs_never_dangle(tmp_path):
    """Eight threads (more than cores) install into one table with a
    1 µs switch interval: the table resolves after every install — a
    version claimed but not yet linked is never reclaimed by the
    installs racing past it — and the log never names a missing dir or
    one dir twice."""
    import sys
    import threading

    final, claimed, dangling = tmp_path / "tbl", [], []

    def writer(tag: int) -> None:
        for r in range(25):
            claimed.append(_install_version(_version(final, f"{tag}:{r}"),
                                            final, 2))
            if not final.exists():
                dangling.append((tag, r))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(claimed) == 200
    assert dangling == []
    logged = _logged(final)
    assert len(logged) == len(set(logged))
    assert all(final.with_name(d).is_dir() for d in logged)
    vacuum_table_versions(final)
    assert _versions(final) == set(_logged(final)) == {os.readlink(final)}


def _codecs(path: Path) -> set[str]:
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(path).metadata
    return {meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)}


def _timestamp_chunks(path: Path) -> list[tuple]:
    """(column, physical type, time unit, has min/max, encodings) of each
    row group's chunk of each timestamp column in ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = pq.ParquetFile(path)
    meta, arrow = f.metadata, f.schema_arrow
    out = []
    for c in range(meta.num_columns):
        col = meta.schema.column(c)
        if not pa.types.is_timestamp(arrow.field(col.name).type):
            continue
        unit = json.loads(col.logical_type.to_json()).get("timeUnit")
        for g in range(meta.num_row_groups):
            chunk = meta.row_group(g).column(c)
            out.append((col.name, col.physical_type, unit,
                        chunk.statistics is not None
                        and chunk.statistics.has_min_max,
                        chunk.encodings))
    return out


def _iot_engine(spark, root: Path) -> tuple[Engine, Path]:
    landing = root / "landing"
    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(landing)},
                 warehouse=root / "wh")
    return eng, landing


def _land_and_run(eng: Engine, landing: Path, rounds: range) -> None:
    for i in rounds:
        write_iot_events(landing, n_events=60, n_files=1, seed=100 + i,
                         start=datetime(2024, 1, 1) + timedelta(days=7 * i))
        eng.run()


def _staged_layout(spark, tmp_path: Path, monkeypatch) -> list[Path]:
    """The parquet files of one ``stage_once`` layout holding a
    timestamp column."""
    import tempfile

    from iot_simulator_datalake_spark.stagecache import stage_once

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src / "t.parquet"))
    layout = stage_once(
        str(src), "t", "policy",
        lambda work: spark.range(100).select(
            "id", F.timestamp_seconds("id").alias("ts"))
        .write.parquet(str(work)))
    return list(layout.glob("*.parquet"))


def test_refreshes_keep_disk_bounded_and_zstd(spark, tmp_path, monkeypatch):
    """Eight streaming refreshes of the iot DAG: each gold table keeps at
    most its current and previous version dir (the parent kept all 8),
    and every parquet file the engine wrote — streaming sinks and gold
    version dirs — and a ``stage_once`` layout are zstd, not snappy."""
    eng, landing = _iot_engine(spark, tmp_path)
    wh = eng.warehouse
    _land_and_run(eng, landing, range(8))

    tables = [p for p in wh.rglob("*") if p.is_symlink()]
    assert sorted(p.name for p in tables) == [
        "dim_date", "dim_locations", "fact_iot_events"]
    for t in tables:
        assert len(_versions(t)) <= 2, (t.name, sorted(_versions(t)))

    files = [p for p in wh.rglob("*.parquet") if p.is_file()]
    assert {p.relative_to(wh).parts[0] for p in files} == {
        "bronze", "silver", "gold"}
    assert set().union(*map(_codecs, files)) == {"ZSTD"}

    staged = _staged_layout(spark, tmp_path, monkeypatch)
    assert staged and set().union(*map(_codecs, staged)) == {"ZSTD"}


def test_engine_writes_int64_micros_and_v2_pages(spark, tmp_path,
                                                  monkeypatch):
    """Three streaming refreshes of the iot DAG, then a ``stage_once``
    layout: every timestamp column the engine wrote is INT64
    TIMESTAMP(MICROS) with min/max statistics (INT96 has none), and
    silver's ``timestamp`` pages are DELTA_BINARY_PACKED (v2 pages;
    v1 pages store them PLAIN)."""
    eng, landing = _iot_engine(spark, tmp_path)
    _land_and_run(eng, landing, range(3))
    files = [p for p in eng.warehouse.rglob("*.parquet") if p.is_file()]
    chunks = {p: _timestamp_chunks(p)
              for p in files + _staged_layout(spark, tmp_path, monkeypatch)}
    assert {c[:4] for cs in chunks.values() for c in cs} == {
        ("timestamp", "INT64", "microseconds", True),
        ("ts", "INT64", "microseconds", True)}
    silver = [c for p, cs in chunks.items()
              if p.relative_to(tmp_path).parts[:2] == ("wh", "silver")
              for c in cs]
    assert silver and all("DELTA_BINARY_PACKED" in c[4] for c in silver)


def test_old_policy_files_upgrade_in_place(spark, tmp_path):
    """A warehouse whose first refreshes wrote INT96 timestamps and v1
    pages refreshes on under the current policy: silver then mixes
    INT96 and INT64 files, holds each landed event exactly once, gold
    equals its recomputation from the landed events, and all 11
    reference checks pass."""
    eng, landing = _iot_engine(spark, tmp_path)
    attach_reference_checks(eng)
    old = {"spark.sql.parquet.outputTimestampType": "INT96",
           "parquet.writer.version": "v1"}
    try:
        for k, v in old.items():
            spark.conf.set(k, v)
        _land_and_run(eng, landing, range(2))
    finally:
        for k in old:
            spark.conf.set(k, RUNTIME_CONFS[k])
    _land_and_run(eng, landing, range(2, 4))

    silver_files = (eng.warehouse / "silver").rglob("*.parquet")
    assert {c[1] for p in silver_files for c in _timestamp_chunks(p)} == {
        "INT96", "INT64"}

    events = [json.loads(line) for f in sorted(landing.glob("*.json"))
              for line in f.read_text().splitlines()]
    kept = [dict(e, quality_flag=e["quality_flag"].strip().lower())
            for e in events
            if e["quality_flag"].strip().lower() in ("good", "suspect")]
    cols = ["device_id", "location_id", "timestamp", "sensor_type",
            "quality_flag", "unit", "value"]
    silver = eng.table("silver.iot_events").withColumn(
        "timestamp", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss"))
    assert Counter(tuple(r) for r in silver.select(*cols).collect()) == \
        Counter(tuple(e[c] for c in cols) for e in kept)

    groups: dict[tuple, list[float]] = {}
    for e in kept:
        ts = datetime.fromisoformat(e["timestamp"])
        groups.setdefault((e["location_id"], e["sensor_type"],
                           e["quality_flag"], ts.year, ts.month),
                          []).append(e["value"])
    gold = {tuple(r[:5]): r[5] for r in eng.table("gold.fact_iot_events")
            .select("location_id", "sensor_type", "quality_flag", "year",
                    "month", "avg_value").collect()}
    assert gold.keys() == groups.keys()
    for k, vals in groups.items():
        assert abs(gold[k] - sum(vals) / len(vals)) < 1e-9, k

    results = eng.test()
    assert len(results) == 11
    assert [r.name for r in results if not r.passed] == []


#: the write-policy settings no module but session.py may set: a codec
#: (``compression``, ``*.compression.codec``), the timestamp type, the
#: page version
_POLICY_KEY = re.compile(r"(^|\.)compression(\.codec)?$|outputTimestampType"
                         r"|parquet\.writer\.version")


def test_write_policy_is_set_only_in_session():
    """Every parquet write inherits one policy from
    ``session.RUNTIME_CONFS``: no other package module names a policy
    key as a string (an ``option``, a ``conf.set``) or passes a
    ``compression=`` argument."""
    import iot_simulator_datalake_spark as pkg
    root = Path(pkg.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        if f == root / "session.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and _POLICY_KEY.search(node.value)) or (
                    isinstance(node, ast.keyword)
                    and node.arg == "compression"):
                offenders.append(f"{f.relative_to(root)}:{node.lineno}")
    assert offenders == []
    assert {k for k in RUNTIME_CONFS if _POLICY_KEY.search(k)} == {
        "spark.sql.parquet.compression.codec",
        "spark.sql.parquet.outputTimestampType", "parquet.writer.version"}


def test_held_state_frames_keep_their_version(spark, tmp_path):
    """A frame taken from a state table's ``read()`` reads the version
    published when it was taken: one more apply/refresh installs a new
    version beside it, and the held frames still return the
    pre-refresh rows (the replaced version is within the depth)."""
    ac = ApplyChanges(spark, tmp_path / "ac", key="k", order_col="ts")
    inc = IncrementalAggTable(spark, tmp_path / "inc", keys=["k"],
                              metrics=mergeable_metrics("v"))

    def changes(*rows):
        return spark.createDataFrame(list(rows),
                                     "k int, ts int, _is_deleted boolean")

    def facts(*rows):
        return spark.createDataFrame(list(rows), "k string, v double")

    ac.apply(changes((1, 10, False)))
    inc.refresh(facts(("a", 1.0)))
    held_ac, held_inc = ac.read(), inc.read()
    ac.apply(changes((1, 20, True), (2, 20, False)))
    inc.refresh(facts(("a", 2.0), ("b", 3.0)))

    assert [(r["k"], r["ts"]) for r in held_ac.collect()] == [(1, 10)]
    assert [(r["k"], r["n"]) for r in held_inc.collect()] == [("a", 1)]
    assert [r["k"] for r in ac.read().collect()] == [2]
    assert sorted((r["k"], r["n"]) for r in inc.read().collect()) == \
        [("a", 2), ("b", 1)]
