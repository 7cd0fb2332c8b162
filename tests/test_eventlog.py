"""Event log (engine/eventlog.py): run/check/streaming events are
recorded, and the log reads back as a queryable relation — the DLT
event-log observability analog.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine.eventlog import (
    EventLog, ProgressListener, attach_event_log, read_event_log)


def _tiny_engine(spark, tmp_path):
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.engine.checks import not_null
    from iot_simulator_datalake_spark.engine.model import Model, Registry

    reg = Registry()
    reg.add(Model(name="nums", layer="bronze", materialization="table",
                  builder=lambda ctx: ctx.spark.range(10).select(
                      F.col("id"), (F.col("id") * 2).alias("v"))))
    reg.add(Model(name="doubled", layer="silver", materialization="view",
                  depends_on=("bronze.nums",),
                  builder=lambda ctx: ctx.ref("bronze.nums")
                  .select("id", (F.col("v") + 1).alias("v"))))
    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    eng.checks.append(not_null("silver.doubled", "v"))
    return eng


def test_run_and_test_events_recorded(spark, tmp_path):
    eng = _tiny_engine(spark, tmp_path)
    log = attach_event_log(eng, tmp_path / "events.jsonl")
    eng.run()
    results = eng.test()
    assert all(r.passed for r in results)

    recs = [json.loads(line) for line in
            (tmp_path / "events.jsonl").read_text().splitlines()]
    kinds = [r["event_type"] for r in recs]
    assert kinds[0] == "run_started" and "run_finished" in kinds
    models = {r["model"] for r in recs
              if r["event_type"] == "model_materialized"}
    assert models == {"bronze.nums", "silver.doubled"}
    checks = [r for r in recs if r["event_type"] == "check_result"]
    assert checks and all(c["passed"] for c in checks)
    assert log is eng.event_log


def test_instrumented_run_keeps_full_signature(spark, tmp_path):
    """A logging engine keeps run()'s full signature — an instrumented
    engine once lost atomic_publish entirely (TypeError), the exact
    call __main__'s CLI makes."""
    eng = _tiny_engine(spark, tmp_path)
    attach_event_log(eng, tmp_path / "events.jsonl")
    res = eng.run(atomic_publish=True)
    assert set(res.materialized) == {"bronze.nums", "silver.doubled"}
    assert eng.table("silver.doubled").count() == 10


def _records(path):
    return [json.loads(line) for line in path.read_text().splitlines()]


def test_failed_run_logs_each_model_outcome(spark, tmp_path):
    """A run whose second model raises still records the first model
    as ok, names the model that failed with its error, then logs
    run_failed."""
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.engine.model import Model, Registry

    def broken(ctx):
        raise RuntimeError("sensor feed unreadable")

    reg = Registry()
    reg.add(Model(name="nums", layer="bronze", materialization="table",
                  builder=lambda ctx: ctx.spark.range(3)))
    reg.add(Model(name="broken", layer="silver", materialization="view",
                  depends_on=("bronze.nums",), builder=broken))
    eng = Engine(spark, reg, warehouse=tmp_path / "wh")
    attach_event_log(eng, tmp_path / "events.jsonl")
    try:
        eng.run()
    except RuntimeError:
        pass
    else:
        raise AssertionError("run() swallowed the model's error")

    recs = _records(tmp_path / "events.jsonl")
    assert [r["event_type"] for r in recs] == [
        "run_started", "model_materialized", "model_materialized",
        "run_failed"]
    ok, failed = recs[1], recs[2]
    assert (ok["model"], ok["status"]) == ("bronze.nums", "ok")
    assert (failed["model"], failed["status"]) == ("silver.broken",
                                                   "failed")
    assert "sensor feed unreadable" in failed["error"]
    assert "sensor feed unreadable" in recs[3]["error"]


def test_logged_seconds_are_the_run_result_stopwatch(spark, tmp_path):
    eng = _tiny_engine(spark, tmp_path)
    attach_event_log(eng, tmp_path / "events.jsonl")
    res = eng.run()
    recs = _records(tmp_path / "events.jsonl")
    logged = {r["model"]: r["seconds"] for r in recs
              if r["event_type"] == "model_materialized"}
    assert logged == {qn: round(s, 3) for qn, s in res.seconds.items()}
    finished = next(r for r in recs if r["event_type"] == "run_finished")
    assert finished["n_models"] == 2
    assert finished["total_seconds"] == round(sum(res.seconds.values()), 3)


def test_attach_event_log_patches_no_method(spark, tmp_path):
    """The engine emits its own events: attaching a log only sets the
    ``event_log`` attribute, it never rebinds methods on the instance."""
    eng = _tiny_engine(spark, tmp_path)
    assert eng.event_log is None
    log = attach_event_log(eng, tmp_path / "events.jsonl")
    assert "run" not in vars(eng) and "test" not in vars(eng)
    assert eng.event_log is log


def test_event_log_reads_as_relation(spark, tmp_path):
    eng = _tiny_engine(spark, tmp_path)
    attach_event_log(eng, tmp_path / "events.jsonl")
    eng.run()
    df = read_event_log(spark, tmp_path / "events.jsonl")
    slowest = (df.where(F.col("event_type") == "model_materialized")
               .orderBy(F.col("seconds").desc()).limit(1).collect())
    assert slowest and slowest[0]["model"].count(".") == 1


def test_streaming_progress_listener(spark, tmp_path):
    log = EventLog(tmp_path / "stream_events.jsonl")
    listener = ProgressListener(log)
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "src"
        src.mkdir()
        df = spark.createDataFrame([(1, 2.0)], ["k", "v"])
        df.write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        q = (stream.groupBy("k").count()
             .writeStream.outputMode("complete").format("memory")
             .queryName("evt_probe")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        # listener callbacks are async — allow them to drain
        deadline = time.time() + 30
        kinds: set[str] = set()
        while time.time() < deadline:
            if log.path.exists():
                kinds = {json.loads(line)["event_type"]
                         for line in log.path.read_text().splitlines()}
                if {"stream_started", "stream_progress"} <= kinds:
                    break
            time.sleep(0.5)
        assert {"stream_started", "stream_progress"} <= kinds
        prog = [json.loads(line)
                for line in log.path.read_text().splitlines()
                if json.loads(line)["event_type"] == "stream_progress"]
        assert any(p["num_input_rows"] == 1 for p in prog)
    finally:
        spark.streams.removeListener(listener)
