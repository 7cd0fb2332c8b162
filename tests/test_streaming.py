"""Streaming semantics tests (SURVEY §5.2.4): exactly-once two-wave
ingest, incremental bronze→silver propagation, stateful operator."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine import Engine
from iot_simulator_datalake_spark.pipeline import build_registry
from iot_simulator_datalake_spark.sources.json_source import (
    infer_and_persist_schema)

from conftest import write_iot_events


def make_engine(spark, landing, warehouse):
    return Engine(spark, build_registry(streaming=True),
                  config={"iot_events_path": str(landing)},
                  warehouse=warehouse)


def test_two_wave_exactly_once(spark, tmp_path):
    landing, wh = tmp_path / "landing", tmp_path / "wh"

    kept1 = write_iot_events(landing, n_events=400, n_files=2, seed=11)
    eng1 = make_engine(spark, landing, wh)
    eng1.run()
    bronze1 = eng1.table("bronze.iot_events").count()
    silver1 = eng1.table("silver.iot_events").count()
    assert bronze1 == 400
    assert silver1 == kept1

    # wave 2: new files land; a fresh engine run (same checkpoints)
    # must process ONLY the new files — no duplicates of wave 1.
    kept2 = write_iot_events(landing, n_events=300, n_files=2, seed=22,
                             start=datetime(2024, 5, 1))
    eng2 = make_engine(spark, landing, wh)
    eng2.run()
    assert eng2.table("bronze.iot_events").count() == 700
    silver = eng2.table("silver.iot_events")
    assert silver.count() == kept1 + kept2
    # no row duplicated: (device, ts, value) multiplicities unchanged
    dupes = (silver.groupBy("device_id", "timestamp", "value",
                            "sensor_type").count()
             .filter(F.col("count") > 1))
    src_dupes = dupes.count()
    assert src_dupes == 0

    # re-run with NO new input: counts stay identical (idempotent)
    eng3 = make_engine(spark, landing, wh)
    eng3.run()
    assert eng3.table("silver.iot_events").count() == kept1 + kept2


def test_streaming_pipeline_equals_batch(spark, tmp_path):
    """The streaming and batch pipelines must produce identical silver
    and gold relations from the same landing data (the materialization
    mode is a physical choice, never a semantic one)."""
    from iot_simulator_datalake_spark.pipeline import build_registry
    landing = tmp_path / "landing"
    write_iot_events(landing, n_events=600, n_files=3, seed=5)

    stream_eng = make_engine(spark, landing, tmp_path / "wh_s")
    stream_eng.run()
    batch_eng = Engine(spark, build_registry(streaming=False),
                       config={"iot_events_path": str(landing)},
                       warehouse=tmp_path / "wh_b")
    batch_eng.run()

    from pyspark.sql import functions as F

    def rows(df):
        cols = [F.round(F.col(f.name), 9).alias(f.name)
                if f.dataType.simpleString() == "double" else F.col(f.name)
                for f in df.schema.fields]
        return {tuple(r) for r in df.select(*cols).collect()}

    for rel in ("silver.iot_events", "gold.dim_locations",
                "gold.dim_date", "gold.fact_iot_events"):
        s, b = stream_eng.table(rel), batch_eng.table(rel)
        cols = sorted(set(b.columns) & set(s.columns))
        assert rows(s.select(*cols)) == rows(b.select(*cols)), \
            f"{rel} diverged between modes"


def test_schema_store_persist_and_reuse(spark, tmp_path):
    landing = tmp_path / "landing"
    write_iot_events(landing, n_events=50, n_files=1, seed=3)
    store = tmp_path / "schema.json"
    s1 = infer_and_persist_schema(spark, landing, store)
    assert store.exists()
    assert {f.name for f in s1.fields} >= {
        "device_id", "location_id", "timestamp", "quality_flag", "value"}
    # second call returns the persisted schema without re-inference
    s2 = infer_and_persist_schema(spark, landing, store)
    assert s1 == s2


def test_schema_evolution_merges_new_fields(spark, tmp_path):
    import json as j
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(j.dumps({"a": 1, "b": "x"}))
    store = tmp_path / "schema.json"
    s1 = infer_and_persist_schema(spark, landing, store)
    assert {f.name for f in s1.fields} == {"a", "b"}
    (landing / "b.json").write_text(j.dumps({"a": 1, "c": 2.5}))
    s2 = infer_and_persist_schema(spark, landing, store, evolve=True)
    assert {f.name for f in s2.fields} == {"a", "b", "c"}


def test_watermark_drops_late_data(spark, tmp_path):
    """ST5 late-data semantics: in append mode, an event arriving after
    the watermark has passed its window is dropped; the window it would
    have updated stays finalized at the first run's count."""
    from datetime import datetime as dt
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    out.mkdir()
    schema = "ts timestamp, v double"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "1 hour").alias("w"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("w.start").alias("start"), "n"))
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(str(out))

    # batch 1: events in hour 10 plus one far ahead at hour 14 — the
    # hour-14 event advances the watermark to 13:50, finalizing hour 10
    spark.createDataFrame(
        [(dt(2024, 1, 1, 10, 5), 1.0), (dt(2024, 1, 1, 10, 20), 1.0),
         (dt(2024, 1, 1, 14, 0), 1.0)],
        schema).write.mode("append").parquet(str(src))
    got1 = {r["start"].hour: r["n"] for r in run().collect()}
    assert got1.get(10) == 2          # hour-10 window emitted, count 2

    # batch 2: a LATE hour-10 event (watermark is already 13:50) — must
    # be dropped; the finalized hour-10 row must keep count 2
    spark.createDataFrame(
        [(dt(2024, 1, 1, 10, 40), 1.0)], schema) \
        .write.mode("append").parquet(str(src))
    got2 = sorted((r["start"].hour, r["n"]) for r in run().collect())
    assert got2 == [(10, 2)]          # unchanged; late event dropped


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exactly-once dedup (W2 in-stream):
    dropDuplicatesWithinWatermark keeps state only for the watermark
    horizon — the bounded-state form of streaming dedup."""
    from datetime import datetime as dt
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir(); out.mkdir()
    schema = "id bigint, ts timestamp"
    spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0)), (1, dt(2024, 1, 1, 10, 1)),  # dup id
         (2, dt(2024, 1, 1, 10, 2))],
        schema).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    dedup = (stream.withWatermark("ts", "1 hour")
             .dropDuplicatesWithinWatermark(["id"]))
    q = (dedup.writeStream.outputMode("append").format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.read.parquet(str(out)).collect())
    assert got == [1, 2]


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState keyed state across micro-batches."""
    from iot_simulator_datalake_spark.streaming.stateful import (
        running_totals)
    src = tmp_path / "src"
    src.mkdir()
    df = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], ["user_id", "value"])
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = running_totals(stream.groupBy("user_id"), "user_id", "value")
    import uuid
    name = f"rt_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = {r["key"]: (r["n_events"], r["total"])
           for r in spark.table(name).collect()}
    assert res == {1: (2, 15.0), 2: (1, 7.0)}
    # a double value column gives a double total
    assert spark.table(name).schema["total"].dataType.typeName() == \
        "double"


def test_stateful_running_totals_string_keys(spark, tmp_path):
    """Key schema follows the grouped column: string device ids (the
    simulator's own key shape) must work — the old hardcoded LongType
    key schema killed the query at Arrow conversion."""
    from iot_simulator_datalake_spark.streaming.stateful import (
        running_totals)
    src = tmp_path / "src"
    src.mkdir()
    df = spark.createDataFrame(
        [("dev-0", 10.0), ("dev-0", 5.0), ("dev-1", 7.0)],
        ["device_id", "value"])
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = running_totals(stream.groupBy("device_id"),
                         "device_id", "value")
    import uuid
    name = f"rts_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt_s"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = {r["key"]: (r["n_events"], r["total"])
           for r in spark.table(name).collect()}
    assert res == {"dev-0": (2, 15.0), "dev-1": (1, 7.0)}


def test_stateful_running_totals_micro_two_waves(spark, tmp_path):
    """Over a long (micro-unit) column the total is an exact long and
    survives a second wave: state carries across restarts via the
    checkpoint and totals stay exact."""
    from iot_simulator_datalake_spark.streaming.stateful import (
        quantize_micro, running_totals)
    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame(
        [(1, 10.5), (1, 5.25), (2, 7.0)], ["user_id", "value"])
    df1.coalesce(1).write.mode("append").parquet(str(src))

    sink = str(tmp_path / "sink")

    def drain():
        stream = spark.readStream.schema(df1.schema).parquet(str(src))
        out = running_totals(
            quantize_micro(stream, "user_id", "value").groupBy("key"),
            "key", "v_micro")
        q = (out.writeStream.outputMode("update")
             .foreachBatch(lambda df, _bid:
                           df.write.mode("append").parquet(sink))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame([(2, 0.0001)], ["user_id", "value"]) \
        .coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got = spark.read.parquet(sink)
    assert got.schema["total"].dataType.typeName() == "long"
    latest = {}
    for r in got.collect():
        if r["key"] not in latest or r["n_events"] > latest[r["key"]][0]:
            latest[r["key"]] = (r["n_events"], r["total"])
    assert latest == {1: (2, 157_500), 2: (2, 70_001)}


def test_streaming_hll_stream_matches_batch_and_envelope(spark):
    """r9 envelope form: the stream≡batch sketch-equivalence claim is
    now a gated COLUMN of streaming_hll_rollup itself (plus the ±3σ
    envelope), scale-invariant instead of coupon-regime-only."""
    from iot_simulator_datalake_spark.queries import REGISTRY
    SF = "/root/testdata/sf0.001"
    rows = REGISTRY["streaming_hll_rollup"].fn(spark, SF).collect()
    assert rows
    assert all(r["stream_matches_batch"] for r in rows)
    assert all(r["within_envelope"] for r in rows)
    brows = REGISTRY["hll_mergeable_rollup"].fn(spark, SF).collect()
    assert brows
    assert all(r["merge_associative"] for r in brows)
    assert all(r["within_envelope"] for r in brows)
    # at sf0.001's tiny cardinality the lgK=21 sketch is exact, so the
    # envelope claim degenerates to exactness — pin that the exact
    # column really is the distinct count (schema honesty)
    e = (spark.read.parquet(f"{SF}/events.parquet"))
    assert {r["event_type"] for r in brows} <= \
        {r["event_type"] for r in e.select("event_type").distinct().collect()}


def test_idempotent_sink_skips_replayed_batches(spark, tmp_path):
    """At-least-once delivery → exactly-once effect: replaying the same
    batchId is a no-op, a simulated crash between data rename and
    commit marker is repaired by the re-run, and the final table holds
    each batch exactly once."""
    from iot_simulator_datalake_spark.streaming.idempotent import (
        IdempotentBatchSink, parquet_batch_writer)
    root = tmp_path / "sink"
    sink = IdempotentBatchSink(root, parquet_batch_writer)

    b0 = spark.range(10).selectExpr("id", "id * 2 AS v")
    b1 = spark.range(10, 25).selectExpr("id", "id * 2 AS v")
    sink(b0, 0)
    sink(b1, 1)
    # replay both (what a restart after offset-log loss does)
    sink(b0, 0)
    sink(b1, 1)
    assert sink.written == [0, 1]
    assert sink.skipped == [0, 1]
    total = spark.read.parquet(str(root / "batch_id=*")).count()
    assert total == 25

    # crash between rename and marker: marker missing, data present
    (root / "_commits" / "1.json").unlink()
    sink(b1, 1)                       # re-delivery re-writes batch 1
    assert sink.written == [0, 1, 1]
    total = spark.read.parquet(str(root / "batch_id=*")).count()
    assert total == 25                # still exactly once
    assert sink.is_committed(1)


def test_idempotent_sink_drives_foreachbatch(spark, tmp_path):
    """End-to-end: a real file stream drained twice through foreachBatch
    lands every input row exactly once in the sink."""
    import json as _json
    from iot_simulator_datalake_spark.streaming.idempotent import (
        IdempotentBatchSink, parquet_batch_writer)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text("\n".join(
        _json.dumps({"k": i}) for i in range(50)))
    sink = IdempotentBatchSink(tmp_path / "out", parquet_batch_writer)
    schema = "k bigint"

    def run():
        q = (spark.readStream.schema(schema).json(str(src))
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    (src / "b.json").write_text("\n".join(
        _json.dumps({"k": i}) for i in range(50, 80)))
    run()
    got = spark.read.parquet(str(tmp_path / "out" / "batch_id=*"))
    assert got.count() == 80
    assert got.select("k").distinct().count() == 80


def test_rocksdb_dedup_twin_restores_provider_conf(spark):
    """streaming_dedup_rollup_rocksdb mutates the state-store provider
    conf for its run; the mutation must not outlive the call (same
    leak-guard contract as the plan-quality conf demos), and the query
    itself raises unless RocksDB visibly engaged and state stayed
    watermark-bounded — so a green run certifies all three."""
    from iot_simulator_datalake_spark.queries_streaming import (
        streaming_dedup_rollup_rocksdb)
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    out = streaming_dedup_rollup_rocksdb(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert spark.conf.get(key, None) == before


def test_streams_drain_only_through_runner():
    """Every package stream is started and awaited by
    ``streaming/runner.run_stream_available_now``, which raises when the
    query does not drain in time.  A bare ``awaitTermination(t)``
    returns False on a timeout and, if unchecked, lets a caller read a
    partial sink while the query still runs.  A memory sink is built
    only by ``streaming/runner.drain_to_memory``."""
    import ast
    from pathlib import Path

    import iot_simulator_datalake_spark as pkg

    root = Path(pkg.__file__).parent
    runner = root / "streaming" / "runner.py"
    sites = []
    for path in sorted(root.rglob("*.py")):
        if path == runner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            memory_sink = (node.func.attr == "format" and node.args
                           and isinstance(node.args[0], ast.Constant)
                           and node.args[0].value == "memory")
            if (node.func.attr in ("awaitTermination", "trigger")
                    or memory_sink):
                sites.append(f"{path.relative_to(root)}:{node.lineno}")
    assert sites == []
