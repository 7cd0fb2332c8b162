"""ApplyChanges (DLT APPLY-CHANGES-INTO equivalent): upsert semantics,
out-of-order protection via tombstones, stream wiring."""

from __future__ import annotations

from datetime import datetime

import pytest

from iot_simulator_datalake_spark.operators.scd import ApplyChanges


def ch(spark, rows):
    return spark.createDataFrame(
        rows, ["id", "op_ts", "name", "_is_deleted"])


T = datetime


def test_upsert_and_delete_sequence(spark, tmp_path):
    ac = ApplyChanges(spark, tmp_path / "tbl", key="id")
    ac.apply(ch(spark, [
        ("a", T(2024, 1, 1), "a-v1", False),
        ("b", T(2024, 1, 1), "b-v1", False)]))
    assert {r["id"]: r["name"] for r in ac.read().collect()} == \
        {"a": "a-v1", "b": "b-v1"}

    # batch 2: update a, delete b
    ac.apply(ch(spark, [
        ("a", T(2024, 1, 2), "a-v2", False),
        ("b", T(2024, 1, 2), "b-v1", True)]))
    assert {r["id"]: r["name"] for r in ac.read().collect()} == {"a": "a-v2"}
    # tombstone retained internally
    assert {r["id"] for r in ac.read(include_deleted=True).collect()} == \
        {"a", "b"}


def test_out_of_order_update_cannot_resurrect(spark, tmp_path):
    ac = ApplyChanges(spark, tmp_path / "tbl", key="id")
    ac.apply(ch(spark, [("x", T(2024, 1, 5), "x-v2", True)]))   # delete @5
    # late-arriving older update must NOT resurrect the deleted row
    ac.apply(ch(spark, [("x", T(2024, 1, 3), "x-v1", False)]))
    assert ac.read().count() == 0
    # but a genuinely newer insert does
    ac.apply(ch(spark, [("x", T(2024, 1, 9), "x-v3", False)]))
    assert [r["name"] for r in ac.read().collect()] == ["x-v3"]


def test_foreachbatch_wiring(spark, tmp_path):
    src = tmp_path / "src"
    b = ch(spark, [("k", T(2024, 1, 1), "k-v1", False)])
    b.write.mode("append").parquet(str(src))
    ac = ApplyChanges(spark, tmp_path / "tbl", key="id")
    stream = spark.readStream.schema(b.schema).parquet(str(src))
    q = (stream.writeStream.foreachBatch(lambda df, eid: ac.apply(df, eid))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert ac.read().count() == 1


def test_scd2_history_versions_and_soft_delete(spark):
    from iot_simulator_datalake_spark.operators.scd import scd2_history
    from pyspark.sql import functions as F

    changes = spark.createDataFrame(
        [("A", 1, "v1", False), ("A", 2, "v2", False), ("A", 3, None, True),
         ("B", 5, "b1", False)],
        "k string, op_ts long, val string, _is_deleted boolean")
    h = (scd2_history(changes, key="k", order_col="op_ts")
         .select("k", "op_ts", "val", "valid_from", "valid_to",
                 "is_current").orderBy("k", "op_ts").collect())
    # A: v1 valid [1,2), v2 valid [2,3) closed by the delete, no current
    a = [r for r in h if r.k == "A"]
    assert [(r.valid_from, r.valid_to, r.is_current) for r in a] == \
        [(1, 2, False), (2, 3, False)]
    # B: single open version
    b = [r for r in h if r.k == "B"]
    assert [(r.valid_from, r.valid_to, r.is_current) for r in b] == \
        [(5, None, True)]


def test_dbt_snapshot_timestamp_strategy(spark, tmp_path):
    """SnapshotTable == dbt snapshot (timestamp strategy): changed keys
    close + reopen, new keys open, untouched keys stay open, history
    accumulates across runs."""
    from datetime import datetime
    from iot_simulator_datalake_spark.operators.scd import SnapshotTable

    snap = SnapshotTable(spark, tmp_path / "snap", unique_key="id",
                         strategy="timestamp", updated_at="updated_at")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    snap.run(spark.createDataFrame(
        [(1, "a", t1), (2, "b", t1)], "id int, val string, updated_at timestamp"))
    cur = {r["id"]: r["val"] for r in snap.read(current_only=True).collect()}
    assert cur == {1: "a", 2: "b"}

    # id 1 changes, id 3 appears, id 2 untouched
    snap.run(spark.createDataFrame(
        [(1, "A", t2), (2, "b", t1), (3, "c", t2)],
        "id int, val string, updated_at timestamp"))
    rows = snap.read().collect()
    cur = {r["id"]: r["val"] for r in rows if r["dbt_valid_to"] is None}
    assert cur == {1: "A", 2: "b", 3: "c"}
    closed = [r for r in rows if r["dbt_valid_to"] is not None]
    assert len(closed) == 1 and closed[0]["id"] == 1 \
        and closed[0]["val"] == "a" and closed[0]["dbt_valid_to"] == t2


def test_dbt_snapshot_check_strategy(spark, tmp_path):
    """check strategy: change detection by null-safe column compare."""
    from datetime import datetime
    from iot_simulator_datalake_spark.operators.scd import SnapshotTable

    snap = SnapshotTable(spark, tmp_path / "snap", unique_key="id",
                         strategy="check", check_cols=["val"],
                         updated_at="ts")
    t1, t2 = datetime(2024, 1, 1), datetime(2024, 2, 1)
    snap.run(spark.createDataFrame(
        [(1, None, t1), (2, "b", t1)], "id int, val string, ts timestamp"))
    snap.run(spark.createDataFrame(
        [(1, "x", t2), (2, "b", t2)], "id int, val string, ts timestamp"))
    rows = snap.read().collect()
    # null→'x' detected (null-safe); 'b'→'b' NOT re-versioned
    assert len(rows) == 3
    cur = {r["id"]: r["val"] for r in rows if r["dbt_valid_to"] is None}
    assert cur == {1: "x", 2: "b"}


def test_snapshot_null_updated_at_keeps_history(spark, tmp_path):
    """Three-valued-logic regression: a source row with NULL updated_at
    must be treated as NOT changed (SQL MERGE clause semantics) — not
    make the key vanish from the snapshot state."""
    from iot_simulator_datalake_spark.operators.scd import SnapshotTable
    st = SnapshotTable(spark, tmp_path / "snap", unique_key="k")
    t1 = datetime(2026, 1, 1)
    st.run(spark.createDataFrame([(1, "a", t1)],
                                 "k int, v string, updated_at timestamp"))
    st.run(spark.createDataFrame(
        [(1, "b", None)], "k int, v string, updated_at timestamp"))
    rows = st.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "a"   # key survived, unchanged


@pytest.mark.parametrize("layout", ["live", "mid-swap"])
def test_apply_adopts_parent_layout_state(spark, tmp_path, layout):
    """State the retired staged swap left is read and folded by the next
    apply, tombstones intact: a real dir holding ``_SUCCESS``, or — from
    a swap killed between moving the live dir aside and promoting its
    stage — only ``<name>.old`` (and the never-promoted ``.staging``,
    which holds no committed state and goes with the adoption)."""
    schema = "k int, ts int, _is_deleted boolean"
    path = tmp_path / "state"
    prior = spark.createDataFrame([(1, 10, False), (2, 10, True)], schema)
    if layout == "live":
        prior.write.parquet(str(path))
    else:
        prior.write.parquet(str(tmp_path / "state.old"))
        spark.createDataFrame([(9, 15, False)], schema) \
            .write.parquet(str(tmp_path / "state.staging"))
    ac = ApplyChanges(spark, path, key="k", order_col="ts")
    # k=2's tombstone (ts 10) outranks this older update (ts 5)
    ac.apply(spark.createDataFrame([(3, 20, False), (2, 5, False)], schema))
    assert sorted(r["k"] for r in ac.read().collect()) == [1, 3]
    assert path.is_symlink()
    assert not (tmp_path / "state.old").exists()
    assert not (tmp_path / "state.staging").exists()


@pytest.mark.parametrize("leftover", ["state.staging", "state.old"])
def test_vacuum_drops_swap_leftovers_beside_live_state(spark, tmp_path,
                                                        leftover):
    """A staged swap killed before it moved the live dir aside left
    ``<name>.staging`` beside the live plain dir; one killed after its
    promotion left ``<name>.old`` beside it.  Neither is ever adopted,
    so vacuum deletes both: a dead full copy must not outlive it."""
    from iot_simulator_datalake_spark.engine.publish import (
        vacuum_table_versions)
    schema = "k int, ts int, _is_deleted boolean"
    path = tmp_path / "state"
    spark.createDataFrame([(1, 10, False)], schema).write.parquet(str(path))
    spark.createDataFrame([(9, 15, False)], schema) \
        .write.parquet(str(tmp_path / leftover))
    ac = ApplyChanges(spark, path, key="k", order_col="ts")
    ac.apply(spark.createDataFrame([(3, 20, False)], schema))
    vacuum_table_versions(path)
    assert sorted(p.name for p in tmp_path.iterdir()) == \
        ["state", "state.log", path.resolve().name]
    assert sorted(r["k"] for r in ac.read().collect()) == [1, 3]
