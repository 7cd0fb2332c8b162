"""Incremental aggregate maintenance: merged state must equal a batch
recompute after any sequence of refreshes, including via a real
foreachBatch stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine.incremental import (
    IncrementalAggTable, mergeable_metrics)


def make_table(spark, tmp_path):
    return IncrementalAggTable(
        spark, tmp_path / "state", keys=["k"],
        metrics=mergeable_metrics("v"))


def batch(spark, rows):
    return spark.createDataFrame(rows, ["k", "v"])


def test_incremental_equals_batch_recompute(spark, tmp_path):
    t = make_table(spark, tmp_path)
    waves = [
        [("a", 1.0), ("a", 3.0), ("b", 10.0)],
        [("a", 5.0), ("c", 2.0)],
        [("b", -4.0), ("c", 2.5), ("a", 0.5)],
    ]
    for w in waves:
        t.refresh(batch(spark, w))

    merged = {r["k"]: (r["n"], float(r["sum"]), r["min"], r["max"], r["avg"])
              for r in t.read().collect()}
    full = batch(spark, [x for w in waves for x in w])
    expected = {r["k"]: (r["n"], float(r["sum"]), r["min"], r["max"],
                         r["avg"])
                for r in full.groupBy("k").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("v").cast("decimal(25,4)")).alias("sum"),
                    F.min("v").alias("min"), F.max("v").alias("max"),
                    (F.sum(F.col("v").cast("decimal(25,4)")).cast("double")
                     / F.count(F.lit(1))).alias("avg"))
                .collect()}
    assert merged == expected


def test_replayed_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers an epoch when the stream restarts
    between the state swap and the checkpoint commit; folding it twice
    would double-count.  Same-epoch refresh must be a no-op; the next
    epoch must apply; epoch-less direct calls stay unguarded."""
    t = make_table(spark, tmp_path)
    t.refresh(batch(spark, [("a", 1.0), ("b", 2.0)]), epoch_id=0)
    t.refresh(batch(spark, [("a", 1.0), ("b", 2.0)]), epoch_id=0)  # replay
    got = {r["k"]: r["n"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 1}
    t.refresh(batch(spark, [("a", 4.0)]), epoch_id=1)
    got = {r["k"]: (r["n"], float(r["sum"])) for r in t.read().collect()}
    assert got == {"a": (2, 5.0), "b": (1, 2.0)}
    # no epoch id → no guard (direct batch API)
    t.refresh(batch(spark, [("a", 4.0)]))
    assert {r["k"]: r["n"] for r in t.read().collect()}["a"] == 3


def test_read_before_refresh_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        make_table(spark, tmp_path).read()


def test_foreachbatch_stream_refresh(spark, tmp_path):
    """Drive refreshes through a real Structured Streaming foreachBatch
    sink — the production wiring for incremental gold."""
    src = tmp_path / "src"
    b1 = batch(spark, [("a", 1.0), ("b", 2.0)])
    b1.write.mode("append").parquet(str(src))
    t = make_table(spark, tmp_path)

    def run_stream():
        stream = spark.readStream.schema(b1.schema).parquet(str(src))
        q = (stream.writeStream
             .foreachBatch(lambda df, eid: t.refresh(df, eid))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_stream()
    assert {r["k"]: r["n"] for r in t.read().collect()} == {"a": 1, "b": 1}

    # second wave: only the new file is processed (checkpoint), state merges
    batch(spark, [("a", 9.0), ("c", 7.0)]).write.mode("append") \
        .parquet(str(src))
    run_stream()
    out = {r["k"]: (r["n"], r["avg"]) for r in t.read().collect()}
    assert out == {"a": (2, 5.0), "b": (1, 2.0), "c": (1, 7.0)}


def test_join_mv_dim_change_needs_no_refresh(spark, tmp_path):
    """The join-MV property itself: a dim re-mapping applied AFTER the
    fact folds is reflected at read time with zero state refresh."""
    from iot_simulator_datalake_spark.engine.incremental import (
        IncrementalJoinAggTable, mergeable_metrics)
    from pyspark.sql import functions as F

    fact = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 40.0)], ["cust", "amount"])
    t = IncrementalJoinAggTable(
        spark, tmp_path / "state", keys=["cust"],
        metrics=[m for m in mergeable_metrics("amount")
                 if m.name in ("n", "sum")])
    t.refresh(fact.filter(F.col("amount") < 30))
    t.refresh(fact.filter(F.col("amount") >= 30))

    dim_v1 = spark.createDataFrame(
        [(1, "east"), (2, "east"), (3, "west")], ["cust", "region"])
    out1 = {r["region"]: (r["n"], float(r["sum"]))
            for r in t.read_joined(dim_v1, "cust", ["region"],
                                   ["region"]).collect()}
    assert out1 == {"east": (3, 35.0), "west": (1, 40.0)}

    # dim UPDATE (cust 2 moves west) + DELETE (cust 3 gone): read view
    # reflects both instantly; fact state untouched
    dim_v2 = spark.createDataFrame(
        [(1, "east"), (2, "west")], ["cust", "region"])
    out2 = {r["region"]: (r["n"], float(r["sum"]))
            for r in t.read_joined(dim_v2, "cust", ["region"],
                                   ["region"]).collect()}
    assert out2 == {"east": (2, 30.0), "west": (1, 5.0)}


def test_epochless_refresh_preserves_replay_guard(spark, tmp_path):
    """A direct refresh(batch) with no epoch_id must carry the last
    _epoch marker forward (ADVICE r4: dropping it let a stream restart
    re-deliver the last epoch and double-count every group)."""
    t = make_table(spark, tmp_path)
    t.refresh(batch(spark, [("a", 1.0)]), epoch_id=7)
    t.refresh(batch(spark, [("a", 10.0)]))          # epoch-less fold
    # marker survived → replaying epoch 7 is still a no-op
    t.refresh(batch(spark, [("a", 1.0)]), epoch_id=7)
    got = {r["k"]: (r["n"], float(r["sum"])) for r in t.read().collect()}
    assert got == {"a": (2, 11.0)}
    # and the next real epoch still applies
    t.refresh(batch(spark, [("a", 100.0)]), epoch_id=8)
    assert {r["k"]: r["n"] for r in t.read().collect()}["a"] == 3


@pytest.mark.parametrize("layout", ["live", "mid-swap"])
def test_refresh_adopts_parent_layout_state(spark, tmp_path, layout):
    """Partials the retired staged swap left — a real state dir holding
    ``_SUCCESS`` and ``_epoch``, or only the ``<name>.old`` of a swap
    killed midway, beside its never-promoted ``<name>.staging`` — are
    folded by the next refresh with the replay guard intact, and the
    stale stage is deleted."""
    from decimal import Decimal

    t = make_table(spark, tmp_path)
    prior = tmp_path / ("state" if layout == "live" else "state.old")
    schema = "k string, n bigint, sum decimal(25,4), min double, max double"
    spark.createDataFrame([("a", 2, Decimal("3.0000"), 1.0, 2.0)],
                          schema).write.parquet(str(prior))
    (prior / "_epoch").write_text("5")
    if layout == "mid-swap":
        spark.createDataFrame([("z", 1, Decimal("9.0000"), 9.0, 9.0)],
                              schema).write.parquet(
            str(tmp_path / "state.staging"))

    t.refresh(batch(spark, [("a", 10.0)]), epoch_id=5)    # a replay
    t.refresh(batch(spark, [("a", 10.0)]), epoch_id=6)
    got = {r["k"]: (r["n"], float(r["sum"]), r["min"], r["max"])
           for r in t.read().collect()}
    assert got == {"a": (3, 13.0, 1.0, 10.0)}
    assert t._last_epoch() == 6
    assert t.path.is_symlink()
    assert not (tmp_path / "state.staging").exists()
