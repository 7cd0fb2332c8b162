"""Compaction: file count drops, data unchanged, partitions preserved."""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine.maintenance import (
    compact, table_file_stats)


def test_compact_merges_small_files(spark, tmp_path):
    path = tmp_path / "tbl"
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 3).alias("v"))
    # simulate many streaming micro-batch appends
    for i in range(6):
        df.filter(F.col("id") % 6 == i).repartition(4) \
          .write.mode("append").parquet(str(path))
    before_files, _ = table_file_stats(path)
    assert before_files >= 24
    checksum = spark.read.parquet(str(path)) \
        .agg(F.sum("id"), F.count(F.lit(1))).collect()[0]

    after = compact(spark, path)
    assert after < before_files
    assert spark.read.parquet(str(path)) \
        .agg(F.sum("id"), F.count(F.lit(1))).collect()[0] == checksum
    # idempotent: second call is a no-op
    assert compact(spark, path) == after


def test_compact_preserves_partitions(spark, tmp_path):
    path = tmp_path / "ptbl"
    df = spark.range(2000).select(
        (F.col("id") % 2).cast("string").alias("dt"), F.col("id"))
    for _ in range(4):
        df.repartition(5).write.mode("append") \
          .partitionBy("dt").parquet(str(path))
    compact(spark, path)
    assert (path / "dt=0").exists() and (path / "dt=1").exists()
    out = spark.read.parquet(str(path))
    assert out.filter(F.col("dt") == "0").count() == 4000


def test_cluster_makes_file_stats_disjoint(spark, tmp_path):
    """After range-clustering on a key, each file's parquet footer
    min/max for that key must be pairwise disjoint — the property that
    makes footer-based data skipping effective."""
    import pyarrow.parquet as pq
    from pathlib import Path
    from iot_simulator_datalake_spark.engine.maintenance import cluster

    path = tmp_path / "ctbl"
    # interleaved writes: every file initially spans the full key range
    df = spark.range(20000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("payload"))
    for i in range(4):
        df.filter(F.col("id") % 4 == i).repartition(3) \
          .write.mode("append").parquet(str(path))
    checksum = spark.read.parquet(str(path)) \
        .agg(F.sum("payload"), F.count(F.lit(1))).collect()[0]

    n = cluster(spark, path, ["k"], target_file_bytes=40 * 1024)
    assert n >= 2  # small target forces a multi-file clustered layout

    ranges = []
    for f in Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may straddle)

    # data unchanged
    assert spark.read.parquet(str(path)) \
        .agg(F.sum("payload"), F.count(F.lit(1))).collect()[0] == checksum


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic clustering: after cluster(a) a range
    probe on b keeps every file; after zorder(a, b) BOTH single-column
    probes prune, because each file covers a small hyper-cube."""
    from pyspark.sql import functions as F
    from iot_simulator_datalake_spark.engine.maintenance import (
        cluster, zorder)
    from iot_simulator_datalake_spark.engine.skipping import (
        build_stats_manifest, prune_files)

    def fresh(path):
        # b independent of a: every a group holds all 200 b values, so
        # a file cluster(a) writes (whole a groups, range-partitioned)
        # spans all of b whatever the range-partition sample
        df = spark.range(40_000).select(
            (F.col("id") % 200).alias("a"),
            (F.floor(F.col("id") / 200) % 200).alias("b"))
        df.repartition(16).write.mode("overwrite").parquet(str(path))

    lex = tmp_path / "lex"
    fresh(lex)
    cluster(spark, lex, ["a"], target_file_bytes=12_000)
    build_stats_manifest(lex, ["a", "b"])
    lex_total = len(prune_files(lex, "a"))
    assert len(prune_files(lex, "a", 10, 20)) <= lex_total // 2
    # lexicographic layout cannot prune the second key
    assert len(prune_files(lex, "b", 10, 20)) == lex_total

    zo = tmp_path / "zo"
    fresh(zo)
    # z-curve selectivity per dimension ~ sqrt(files): use enough files
    zorder(spark, zo, ["a", "b"], target_file_bytes=5_000)
    build_stats_manifest(zo, ["a", "b"])
    zo_total = len(prune_files(zo, "a"))
    assert zo_total >= 12
    kept_a = len(prune_files(zo, "a", 10, 20))
    kept_b = len(prune_files(zo, "b", 10, 20))
    # a 5.5% probe on EITHER dimension prunes files (vs 100% kept on
    # the non-leading key of the lexicographic layout)
    assert kept_a <= zo_total * 6 // 10
    assert kept_b <= zo_total * 6 // 10

    # correctness: pruned scan returns exactly the filtered rows
    files = prune_files(zo, "b", 10, 20)
    got = (spark.read.parquet(*files)
           .filter((F.col("b") >= 10) & (F.col("b") <= 20)).count())
    want = (spark.read.parquet(str(zo))
            .filter((F.col("b") >= 10) & (F.col("b") <= 20)).count())
    assert got == want


def test_compact_engine_symlink_table_twice(spark, tmp_path):
    """Engine-managed tables are SYMLINKS (publish._install_version);
    the old in-place swap wedged the SECOND rewrite with ENOTDIR and
    leaked versions.  Compaction must now install new version dirs and
    stay repeatable."""
    import os
    from iot_simulator_datalake_spark.engine.maintenance import compact
    from iot_simulator_datalake_spark.engine.publish import (
        _install_version, vacuum_table_versions)
    tbl = tmp_path / "t"
    v0 = tmp_path / "t.v-0000"
    spark.range(200).repartition(8).write.parquet(str(v0))
    _install_version(v0, tbl)
    assert tbl.is_symlink()
    n1 = compact(spark, tbl, target_file_bytes=1 << 30)
    n2 = compact(spark, tbl, target_file_bytes=1 << 30)  # second run
    assert n1 == n2 == 1
    assert tbl.is_symlink()                      # protocol preserved
    assert spark.read.parquet(str(tbl)).count() == 200
    vacuum_table_versions(tbl)
    assert os.path.exists(tbl)                    # current survives


def test_maintenance_refuses_streaming_table(spark, tmp_path, capsys):
    """Rewriting a streaming table's dir dropped its _spark_metadata
    sink log: the next drain then wrote _spark_metadata/2 alone and
    every later read raised IllegalStateException.  compact, cluster,
    zorder and the CLI optimize must refuse the dir and leave it
    refreshable."""
    from datetime import datetime

    import pytest

    from conftest import write_iot_events
    from iot_simulator_datalake_spark.__main__ import main
    from iot_simulator_datalake_spark.engine.maintenance import (
        cluster, zorder)
    from iot_simulator_datalake_spark.streaming.runner import (
        materialize_streaming_table)

    landing, out, ck = tmp_path / "land", tmp_path / "bronze", tmp_path / "ck"
    write_iot_events(landing, n_events=200, n_files=2, seed=61)
    schema = spark.read.json(str(landing)).schema

    def drain():
        sdf = spark.readStream.schema(schema).json(str(landing))
        return materialize_streaming_table(spark, sdf, out, ck)

    drain()
    write_iot_events(landing, n_events=100, n_files=1, seed=62,
                     start=datetime(2024, 5, 1))
    assert drain().count() == 300
    for rewrite in (lambda: compact(spark, out, target_file_bytes=1 << 30),
                    lambda: cluster(spark, out, ["device_id"]),
                    lambda: zorder(spark, out, ["value"])):
        with pytest.raises(ValueError, match="_spark_metadata"):
            rewrite()
    assert main(["optimize", str(out)]) == 2
    assert "_spark_metadata" in capsys.readouterr().err

    write_iot_events(landing, n_events=50, n_files=1, seed=63,
                     start=datetime(2024, 6, 1))
    assert drain().count() == 350
    assert spark.read.schema(schema).parquet(str(out)).count() == 350
