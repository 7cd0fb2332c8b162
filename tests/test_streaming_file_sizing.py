"""Streaming-table file sizing (streaming/runner.py): each micro-batch
is written as ⌈batch bytes / split size⌉ parquet files, never more than
its input splits, through Spark's own file sink (so the
``_spark_metadata`` log and exactly-once replay are unchanged)."""

from __future__ import annotations

import gzip
from datetime import datetime

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.streaming.runner import (
    materialize_streaming_table, run_stream_available_now)

from conftest import write_iot_events

SPLIT = "spark.sql.files.maxPartitionBytes"


def _drain(spark, landing, out, ck, schema, partition_by=()):
    sdf = spark.readStream.schema(schema).json(str(landing))
    return materialize_streaming_table(spark, sdf, out, ck,
                                       partition_by=partition_by)


def _batches(ck) -> int:
    return len(list((ck / "commits").glob("[0-9]*")))


def _parts(d) -> list:
    return sorted(d.rglob("part-*.parquet"))


def _landed_bytes(landing) -> int:
    return sum(f.stat().st_size for f in landing.iterdir() if f.is_file())


def _with_split(spark, split: int, fn):
    """Run ``fn`` with ``spark.sql.files.maxPartitionBytes`` = split,
    restoring the session's own setting afterwards."""
    old = spark.conf.get(SPLIT, None)
    spark.conf.set(SPLIT, str(split))
    try:
        return fn()
    finally:
        if old is None:
            spark.conf.unset(SPLIT)
        else:
            spark.conf.set(SPLIT, old)


def test_two_wave_json_ingest_one_file_per_batch(spark, tmp_path):
    """Three small landed files per wave used to become three parquet
    files per micro-batch (one per input split)."""
    landing, out, ck = tmp_path / "land", tmp_path / "out", tmp_path / "ck"
    write_iot_events(landing, n_events=300, n_files=3, seed=51)
    schema = spark.read.json(str(landing)).schema
    assert _drain(spark, landing, out, ck, schema).count() == 300
    write_iot_events(landing, n_events=240, n_files=3, seed=52,
                     start=datetime(2024, 5, 1))
    got = _drain(spark, landing, out, ck, schema)

    assert _batches(ck) == 2
    assert len(_parts(out)) == 2
    assert got.count() == 540
    dupes = (got.groupBy(*got.columns).count()
             .filter(F.col("count") > 1).count())
    want = spark.read.schema(schema).json(str(landing))
    assert dupes == 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_batch_writes_bytes_over_split_files(spark, tmp_path):
    """A batch of B bytes writes ⌈B/split⌉ files; with a split below
    the size of each unsplittable (gzip) input file, it keeps one file
    per input split rather than more."""
    landing, out, ck = tmp_path / "land", tmp_path / "out", tmp_path / "ck"
    write_iot_events(landing, n_events=1600, n_files=8, seed=53)
    schema = spark.read.json(str(landing)).schema
    landed = _landed_bytes(landing)
    split = landed // 3 + 1
    _with_split(spark, split, lambda: _drain(spark, landing, out, ck, schema))
    assert _batches(ck) == 1
    assert len(_parts(out)) == -(-landed // split) == 3

    gz = tmp_path / "gz"
    gz.mkdir()
    for f in sorted(landing.iterdir()):
        (gz / f"{f.name}.gz").write_bytes(gzip.compress(f.read_bytes()))
    split = min(f.stat().st_size for f in gz.iterdir()) // 2
    assert -(-_landed_bytes(gz) // split) > 8
    out_gz = tmp_path / "out_gz"
    got = _with_split(spark, split, lambda: _drain(
        spark, gz, out_gz, tmp_path / "ck_gz", schema).count())
    assert got == 1600
    assert len(_parts(out_gz)) == 8


def test_partitioned_table_one_file_per_value_per_batch(spark, tmp_path):
    landing, out, ck = tmp_path / "land", tmp_path / "out", tmp_path / "ck"
    write_iot_events(landing, n_events=600, n_files=3, seed=54)
    schema = spark.read.json(str(landing)).schema
    _drain(spark, landing, out, ck, schema, partition_by=("sensor_type",))
    write_iot_events(landing, n_events=600, n_files=3, seed=55,
                     start=datetime(2024, 5, 1))
    got = _drain(spark, landing, out, ck, schema,
                 partition_by=("sensor_type",))

    assert _batches(ck) == 2
    values = sorted(p.name for p in out.glob("sensor_type=*"))
    assert len(values) == 4
    for v in values:
        assert len(_parts(out / v)) == 2, v
    assert got.count() == 1200


def test_json_batch_size_estimate_tracks_landed_bytes(spark, tmp_path):
    """The sizing reads the micro-batch's plan statistics.  If a Spark
    upgrade drops the foreachBatch frame's origin stats, the estimate
    falls to a default and the sizing silently turns off."""
    from iot_simulator_datalake_spark.sources.json_source import (
        read_json_stream)
    from iot_simulator_datalake_spark.streaming.runner import batch_bytes
    landing = tmp_path / "land"
    write_iot_events(landing, n_events=800, n_files=4, seed=56)
    landed = _landed_bytes(landing)
    stream = read_json_stream(spark, landing, tmp_path / "schema.json")
    seen = []
    writer = (stream.writeStream
              .foreachBatch(lambda df, _: seen.append(batch_bytes(df)))
              .option("checkpointLocation", str(tmp_path / "ck")))
    run_stream_available_now(writer)
    assert len(seen) == 1
    assert landed <= seen[0] < 2 * landed
