"""File-level data skipping (engine/skipping.py): manifest build,
pruning correctness (never drops rows), and the cluster→skip synergy
(range-clustered tables prune most files on selective scans).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_simulator_datalake_spark.engine.maintenance import cluster
from iot_simulator_datalake_spark.engine.skipping import (
    build_stats_manifest, prune_files, read_stats_manifest,
    scan_with_skipping)


def _write_interleaved(spark, path, n=20_000, files=12):
    df = spark.range(n).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("payload"))
    df.repartition(files).write.mode("overwrite").parquet(str(path))
    return df


def test_manifest_covers_all_files(spark, tmp_path):
    path = tmp_path / "t"
    _write_interleaved(spark, path)
    n = build_stats_manifest(path, ["k"])
    m = read_stats_manifest(path)
    assert n == len(m["files"]) > 1
    assert all("k" in s for s in m["files"].values())


def test_skipping_never_drops_rows(spark, tmp_path):
    """Unclustered table: pruning keeps everything (every file spans
    the key range) but results still match the plain filtered scan."""
    path = tmp_path / "t"
    _write_interleaved(spark, path)
    build_stats_manifest(path, ["k"])
    df, n_read, n_total = scan_with_skipping(spark, path, "k", lo=10, hi=20)
    expect = (spark.read.parquet(str(path))
              .filter(F.col("k").between(10, 20)))
    assert df.count() == expect.count()
    assert n_read == n_total  # interleaved → nothing skippable


def test_cluster_then_skip_prunes_most_files(spark, tmp_path):
    path = tmp_path / "t"
    _write_interleaved(spark, path)
    full = spark.read.parquet(str(path))
    expect_cnt = full.filter(F.col("k").between(10, 20)).count()
    expect_sum = full.filter(F.col("k").between(10, 20)) \
        .agg(F.sum("payload")).first()[0]

    cluster(spark, path, ["k"], target_file_bytes=12_000)
    n = build_stats_manifest(path, ["k"])
    assert n > 4  # enough files for skipping to mean something

    df, n_read, n_total = scan_with_skipping(spark, path, "k", lo=10, hi=20)
    assert df.count() == expect_cnt
    assert df.agg(F.sum("payload")).first()[0] == expect_sum
    # the point of clustering: a narrow range touches few files
    assert n_read < n_total / 2

    # file list from prune_files matches what the scan used
    assert len(prune_files(path, "k", 10, 20)) == n_read


def test_empty_range_reads_zero_files(spark, tmp_path):
    path = tmp_path / "t"
    _write_interleaved(spark, path)
    cluster(spark, path, ["k"], target_file_bytes=12_000)
    build_stats_manifest(path, ["k"])
    df, n_read, _ = scan_with_skipping(spark, path, "k", lo=10_000)
    assert n_read == 0 and df.count() == 0
    assert df.columns == ["k", "payload"]


def test_bloom_prunes_equality_on_unclustered_layout(spark, tmp_path):
    """The bloom's reason to exist: UNCLUSTERED layout, where min/max
    cannot prune an equality probe (every file spans the key range),
    yet the bloom skips most files for a sparse key — and never drops
    rows for a present one."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, prune_files_eq, scan_with_skipping_eq)
    path = tmp_path / "t"
    # sparse high-cardinality key: each value lands in ~1 of 12 files
    df = spark.range(24_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("payload"))
    df.repartition(12).write.mode("overwrite").parquet(str(path))
    build_stats_manifest(path, ["k"])
    build_bloom_manifest(path, ["k"])

    # min/max alone cannot prune this layout (hash-interleaved ranges)
    assert len(prune_files(path, "k", 1234, 1234)) >= 10

    # bloom pruning: present value → correct rows, few files
    got, n_read, n_total = scan_with_skipping_eq(spark, path, "k", 1234)
    assert [r["payload"] for r in got.collect()] == [2468]
    assert n_total == 12
    assert n_read <= 3                      # 1 true file + rare FPs

    # absent value → zero rows, and typically zero files
    got, n_read, _ = scan_with_skipping_eq(spark, path, "k", 999_999)
    assert got.count() == 0
    assert n_read <= 2                      # false positives only

    # exhaustive correctness: every 500th present key round-trips
    for k in range(0, 24_000, 500):
        files = prune_files_eq(path, "k", k)
        assert files, f"bloom dropped present key {k}"


def test_bloom_composes_with_minmax(spark, tmp_path):
    """On a CLUSTERED table both prune: the equality scan reads at most
    as many files as the range scan would."""
    from iot_simulator_datalake_spark.engine.maintenance import cluster
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, prune_files_eq)
    path = tmp_path / "t"
    _write_interleaved(spark, path)
    cluster(spark, path, ["k"], target_file_bytes=12_000)
    build_stats_manifest(path, ["k"])
    build_bloom_manifest(path, ["k"])
    files_eq = prune_files_eq(path, "k", 500)
    files_rng = prune_files(path, "k", 500, 500)
    assert set(files_eq) <= set(files_rng)
    assert len(files_eq) <= 2


def test_bloom_manifest_tolerates_schema_evolution(spark, tmp_path):
    """A column present only in newer files must not fail the bloom
    build (ADVICE r2): absent columns are skipped per file."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, build_stats_manifest, prune_files_eq)
    root = tmp_path / "t"
    spark.createDataFrame([(1,)], ["k"]).coalesce(1) \
        .write.mode("overwrite").parquet(str(root))
    spark.createDataFrame([(2, "x")], ["k", "extra"]).coalesce(1) \
        .write.mode("append").parquet(str(root))
    build_stats_manifest(root, ["k"])
    n = build_bloom_manifest(root, ["k", "extra"])
    assert n == 2
    # probing the evolved column only ever keeps files that carry it
    keep = prune_files_eq(root, "extra", "x")
    assert len(keep) >= 1


def test_bloom_autosizes_per_file(spark, tmp_path):
    """Fixed-size blooms saturate as files grow (the ×10-replica sweep
    measured 8192 bits vs 1.25M keys/file = every probe positive, zero
    skipping).  The builder must size each file's bloom by its
    distinct count so a sparse probe still prunes on big files."""
    from iot_simulator_datalake_spark.engine.skipping import (
        BLOOM_BITS, build_bloom_manifest, build_stats_manifest,
        prune_files_eq, read_stats_manifest)
    path = tmp_path / "t"
    # 4 files × 50k distinct keys, interleaved (unclustered: min/max
    # can never prune an in-range probe)
    (spark.range(200_000).selectExpr("id % 4 AS f", "id AS k")
     .repartition(4, "f").drop("f")
     .write.mode("overwrite").parquet(str(path)))
    build_stats_manifest(path, ["k"])
    build_bloom_manifest(path, ["k"])
    man = read_stats_manifest(path)
    sizes = {e["k"]["bits"] for e in man["bloom"]["files"].values()}
    assert all(m > BLOOM_BITS for m in sizes), sizes  # auto-sized up
    # a present key is never dropped; an absent key prunes everything
    assert len(prune_files_eq(path, "k", 123_456)) >= 1
    assert prune_files_eq(path, "k", 10**12) == []
    # saturation check: probe 64 absent keys, expect ~fpp*4 reads total
    reads = sum(len(prune_files_eq(path, "k", 10**9 + i))
                for i in range(64))
    assert reads <= 32, f"bloom ineffective on large files: {reads}"


def test_bloom_entry_of_another_form_keeps_its_file(spark, tmp_path):
    """The reader knows one entry form, ``{bits, bitmap}``; an entry in
    any other form (a bare hex bitmap with no size) cannot be probed,
    so its file is kept — pruning stays conservative."""
    import json
    from iot_simulator_datalake_spark.engine.skipping import (
        STATS_MANIFEST, build_bloom_manifest, build_stats_manifest,
        prune_files_eq, read_stats_manifest)
    path = tmp_path / "t"
    # two files whose ranges both hold the absent probe 101
    for mode, keys in (("overwrite", [0, 200]), ("append", [2, 198])):
        spark.createDataFrame([(k,) for k in keys], ["k"]).coalesce(1) \
            .write.mode(mode).parquet(str(path))
    build_stats_manifest(path, ["k"])
    build_bloom_manifest(path, ["k"])
    assert prune_files_eq(path, "k", 101) == []    # bloom prunes both
    man = read_stats_manifest(path)
    for per_col in man["bloom"]["files"].values():
        per_col["k"] = "0x0"                       # bare hex, no size
    (path / STATS_MANIFEST).write_text(json.dumps(man))
    assert len(prune_files_eq(path, "k", 101)) == 2


def test_range_scan_on_timestamp_column(spark, tmp_path):
    """prune_files must normalize probe bounds like the manifest's
    stored min/max (isoformat strings for timestamps) — the raw
    comparison was str >= datetime and crashed every timestamp range
    scan."""
    from datetime import datetime
    from pyspark.sql import functions as F
    from iot_simulator_datalake_spark.engine.skipping import (
        build_stats_manifest, scan_with_skipping)
    t = tmp_path / "ts_table"
    df = spark.range(100).select(
        F.col("id"),
        F.expr("timestamp'2024-01-01' + make_interval(0,0,0,id)")
        .alias("ts"))
    # the write policy stores timestamps as INT64 micros, which carry
    # min/max (Spark's default INT96 has none)
    df.repartitionByRange(4, "ts").write.parquet(str(t))
    build_stats_manifest(t, ["ts"])
    out, n_read, n_total = scan_with_skipping(
        spark, t, "ts", lo=datetime(2024, 1, 20), hi=datetime(2024, 1, 30))
    assert out.count() == 11
    assert n_read < n_total            # pruning actually bit


def _range_files(spark, path, col_expr, name, n=100, files=4):
    """``n`` rows of ``id`` and ``name`` = ``col_expr``, range-partitioned
    on ``name`` into ``files`` files; returns each file's (min, max) of
    ``name`` as pyarrow reads it, in order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    (spark.range(n).select("id", F.expr(col_expr).alias(name))
     .repartitionByRange(files, name).write.parquet(str(path)))
    bounds = []
    for f in path.glob("*.parquet"):
        mm = pc.min_max(pq.read_table(f, columns=[name])[name]).as_py()
        bounds.append((mm["min"], mm["max"]))
    return sorted(bounds)


def test_timestamp_probe_equal_to_a_bound_keeps_its_file(spark, tmp_path):
    """INT64 timestamp stats come back from pyarrow with a UTC timezone
    and probes come without one: as bare isoformat strings a probe
    equal to a file's min sorted below it, and the range, equality and
    bloom paths all dropped the one file holding the row."""
    from datetime import timezone
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, prune_files_eq, scan_with_skipping_eq)
    t = tmp_path / "ts_table"
    bounds = _range_files(
        spark, t, "timestamp'2024-01-01' + make_interval(0,0,0,id)", "ts")
    assert bounds[1][0].tzinfo is not None       # stats carry a timezone
    probe = bounds[1][0].astimezone(timezone.utc).replace(tzinfo=None)
    build_stats_manifest(t, ["ts"])
    out, n_read, n_total = scan_with_skipping(spark, t, "ts",
                                              lo=probe, hi=probe)
    assert (out.count(), n_read, n_total) == (1, 1, 4)
    assert len(prune_files_eq(t, "ts", probe)) == 1
    build_bloom_manifest(t, ["ts"])
    for p in (probe, probe.date()):              # a date probes its midnight
        out, n_read, _ = scan_with_skipping_eq(spark, t, "ts", p)
        assert (out.count(), n_read) == (1, 1)


def test_date_column_probed_with_datetimes(spark, tmp_path):
    """A date column's stats are plain dates; a datetime probe compares
    by value (a date is its midnight, as in Spark), so a probe equal to
    a file's max keeps that file on the range and bloom paths."""
    from datetime import datetime, time
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, scan_with_skipping_eq)
    t = tmp_path / "date_table"
    bounds = _range_files(spark, t, "date'2024-01-01' + CAST(id AS INT)", "d")
    lo = datetime.combine(bounds[0][1], time())
    hi = datetime.combine(bounds[2][0], time())
    build_stats_manifest(t, ["d"])
    c = F.col("d")
    full = spark.read.parquet(str(t))
    for rng, cond in (((lo, None), c >= F.lit(lo)),
                      ((None, hi), c <= F.lit(hi)),
                      ((lo, hi), c.between(F.lit(lo), F.lit(hi)))):
        out, _, _ = scan_with_skipping(spark, t, "d", *rng)
        assert out.count() == full.filter(cond).count() > 0, rng
    build_bloom_manifest(t, ["d"])
    for p in (lo, hi, lo.date()):
        out, n_read, _ = scan_with_skipping_eq(spark, t, "d", p)
        assert (out.count(), n_read) == (1, 1), p


def test_manifest_before_norm_never_drops_a_file(spark, tmp_path):
    """A manifest written before the one temporal form (no ``norm``
    key, timestamps stored as tz-tagged isoformat strings) cannot order
    a timestamp probe: it keeps every file for one, range or equality,
    and still prunes on its numeric columns."""
    import json
    from datetime import datetime, timezone
    from iot_simulator_datalake_spark.engine.skipping import (
        STATS_MANIFEST, prune_files_eq, read_stats_manifest)
    t = tmp_path / "ts_table"
    bounds = _range_files(
        spark, t, "timestamp'2024-01-01' + make_interval(0,0,0,id)", "ts")
    probe = bounds[1][0].astimezone(timezone.utc).replace(tzinfo=None)
    build_stats_manifest(t, ["id", "ts"])
    man = read_stats_manifest(t)
    del man["norm"]
    for stats in man["files"].values():
        stats["ts"] = [datetime.fromisoformat(v).replace(
            tzinfo=timezone.utc).isoformat() for v in stats["ts"]]
    (t / STATS_MANIFEST).write_text(json.dumps(man))
    assert len(prune_files(t, "ts", probe, probe)) == 4
    assert len(prune_files_eq(t, "ts", probe)) == 4
    out, _, _ = scan_with_skipping(spark, t, "ts", lo=probe, hi=probe)
    assert out.count() == 1
    assert len(prune_files(t, "id", 0, 0)) == 1


def test_engine_silver_prunes_on_its_time_key(spark, tmp_path):
    """Silver as the engine writes it, one file per micro-batch, prunes
    on ``timestamp``: each batch covers its own 90 days, so a ten-day
    range reads fewer files than silver holds and returns the same
    rows as the unpruned filter.  INT96 timestamps carry no stats, and
    there every file was read."""
    from datetime import datetime, timedelta
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline import build_registry
    from conftest import write_iot_events

    landing, wh = tmp_path / "landing", tmp_path / "wh"
    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(landing)}, warehouse=wh)
    for i in range(4):
        write_iot_events(landing, n_events=60, n_files=1, seed=200 + i,
                         start=datetime(2024, 1, 1) + timedelta(days=100 * i))
        eng.run()
    silver = wh / "silver" / "iot_events"
    n = build_stats_manifest(silver, ["timestamp"])
    assert n >= 4
    lo, hi = datetime(2024, 4, 20), datetime(2024, 4, 30)
    out, n_read, n_total = scan_with_skipping(spark, silver, "timestamp",
                                              lo=lo, hi=hi)
    expect = eng.table("silver.iot_events").filter(
        F.col("timestamp").between(F.lit(lo), F.lit(hi)))
    assert n_read < n_total == n
    rows = sorted(expect.collect())
    assert rows and sorted(out.collect()) == rows


def test_pruned_scan_keeps_hive_partition_columns(spark, tmp_path):
    """Pruned leaf-file reads must carry basePath so hive partition
    columns survive — without it the pruned and unpruned scans
    disagree on schema."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_stats_manifest, scan_with_skipping)
    from pyspark.sql import functions as F
    t = tmp_path / "part_table"
    df = spark.range(40).select(
        "id", (F.col("id") % 4).alias("bucket"))
    df.write.partitionBy("bucket").parquet(str(t))
    build_stats_manifest(t, ["id"])
    out, _, _ = scan_with_skipping(spark, t, "id", lo=0, hi=10)
    assert "bucket" in out.columns
    assert out.filter(F.col("bucket").isNull()).count() == 0


def test_bloom_probe_type_canonical(spark, tmp_path):
    """An int probe must hit files whose parquet doubles hold the same
    integral value — repr-typed hashing made 5 miss 5.0 (a bloom
    false NEGATIVE, the forbidden error class)."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, build_stats_manifest, prune_files_eq)
    from pyspark.sql import functions as F
    t = tmp_path / "dbl_table"
    spark.range(32).select(
        (F.col("id").cast("double") * 1.0).alias("v")) \
        .repartition(4).write.parquet(str(t))
    build_stats_manifest(t, ["v"])
    build_bloom_manifest(t, ["v"])
    kept_int = prune_files_eq(t, "v", 5)
    kept_flt = prune_files_eq(t, "v", 5.0)
    assert kept_int == kept_flt and kept_int   # same files, non-empty
    rows = spark.read.parquet(*kept_int).filter(F.col("v") == 5.0).count()
    assert rows == 1                            # the value is really there


def test_stage_once_gc_scoped_to_same_source(spark, tmp_path, monkeypatch):
    """GC must reclaim only superseded RECIPE generations of the same
    (tag, source): a tag-wide sweep deleted sibling-SF layouts out
    from under live readers (measured mid-sweep FileNotFound)."""
    import tempfile
    from iot_simulator_datalake_spark.stagecache import stage_once
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    srcs = []
    for i in (0, 1):
        d = tmp_path / f"src{i}"
        d.mkdir()
        spark.range(5 + i).write.parquet(str(d / "t.parquet"))
        srcs.append(str(d))

    def build_a(work):
        spark.range(1).write.parquet(str(work))

    p0 = stage_once(srcs[0], "t", "gctag", build_a)
    p1 = stage_once(srcs[1], "t", "gctag", build_a)
    assert p0.exists() and p1.exists()          # both sources stay live

    def build_b(work):  # recipe change for source 0 only
        spark.range(2).coalesce(1).write.parquet(str(work))

    p0b = stage_once(srcs[0], "t", "gctag", build_b)
    assert p0b.exists() and p0b != p0
    assert not p0.exists()                       # superseded gen GC'd
    assert p1.exists()                           # other source untouched


def test_pruned_eq_scan_keeps_hive_partition_columns(spark, tmp_path):
    """scan_with_skipping_eq must carry basePath like its range
    sibling — pruned and unpruned scans of a partitioned table must
    agree on schema."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest, build_stats_manifest, scan_with_skipping_eq)
    from pyspark.sql import functions as F
    t = tmp_path / "part_eq_table"
    df = spark.range(40).select(
        "id", (F.col("id") % 4).alias("bucket"))
    df.write.partitionBy("bucket").parquet(str(t))
    build_stats_manifest(t, ["id"])
    build_bloom_manifest(t, ["id"])
    out, n_read, n_total = scan_with_skipping_eq(spark, t, "id", 7)
    assert "bucket" in out.columns
    got = out.collect()
    assert len(got) == 1 and got[0]["bucket"] == 7 % 4


def test_stage_once_gc_skips_inflight_tmp(spark, tmp_path, monkeypatch):
    """GC must NOT reclaim ``.tmp-`` siblings even though they carry
    _STAGED (written before the publish rename): they are another
    process's build mid-publish, not a superseded generation."""
    import tempfile
    from iot_simulator_datalake_spark.stagecache import (
        stage_once, source_digest)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "src_tmp"
    src.mkdir()
    spark.range(3).write.parquet(str(src / "t.parquet"))

    # simulate a concurrent process's fully-built tmp sibling
    digest = source_digest(str(src), "t")
    root = tmp_path / "lake_stage"
    root.mkdir(parents=True, exist_ok=True)
    inflight = root / f"gctag2-{digest}-rdeadbeef.tmp-abc12345"
    inflight.mkdir(parents=True)
    (inflight / "_STAGED").write_text("ok\n")

    def build(work):
        spark.range(1).write.parquet(str(work))

    p = stage_once(str(src), "t", "gctag2", build)
    assert p.exists()
    assert inflight.exists()                     # in-flight tmp survives


def test_recipe_digest_sees_captured_scalars():
    """A builder closing over a config scalar must re-stage when the
    value changes — captured simple immutables hash by VALUE."""
    from iot_simulator_datalake_spark.stagecache import _recipe_digest

    def make(bits):
        def build(work):
            return bits * 2
        return build

    assert _recipe_digest(make(8)) != _recipe_digest(make(16))
    assert _recipe_digest(make(8)) == _recipe_digest(make(8))


def test_full_mat_tolerates_duplicate_and_dotted_names(spark):
    """full_mat must be truly ordinal: duplicate output names and
    dotted names (df[i] is name-based under the hood) must not raise."""
    from iot_simulator_datalake_spark.actions import full_mat
    from pyspark.sql import functions as F
    df = spark.range(5).select(
        F.col("id").alias("count"),
        (F.col("id") * 2).alias("count"),
        F.lit(1).alias("a.b"))
    assert full_mat(df) == 5


def test_recipe_digest_stable_across_processes():
    """A builder containing a comprehension puts a nested CODE OBJECT
    in co_consts; repr() of a code object embeds its memory address,
    which made the digest differ per process — the cache never hit
    across invocations and each run GC'd the previous generation.
    Pin cross-process stability by digesting the same builder in two
    fresh interpreters."""
    import subprocess
    import sys

    prog = (
        "import sys; sys.path.insert(0,'/root/repo')\n"
        "from iot_simulator_datalake_spark.stagecache import"
        " _recipe_digest\n"
        "def b(work):\n"
        "    xs = [x for x in ('a','b')]\n"
        "    ok = 'a' in {'a','b'}\n"
        "    f = lambda v: v + 1\n"
        "print(_recipe_digest(b))\n")
    outs = [subprocess.run([sys.executable, "-c", prog],
                           capture_output=True, text=True,
                           check=True).stdout.strip()
            for _ in range(2)]
    assert outs[0] == outs[1] and len(outs[0]) == 8


def test_scratch_dir_gcs_dead_pid_siblings(tmp_path, monkeypatch):
    """scratch_dir dirs live under the process's scratch root, so they
    go with it: a killed process's root (and every tag dir in it) is
    swept when the next process makes its root; the caller's own root
    and a live process's root survive."""
    import os
    import pathlib

    from iot_simulator_datalake_spark import session
    from iot_simulator_datalake_spark import stagecache as sc

    monkeypatch.setattr(sc.tempfile, "gettempdir", lambda: str(tmp_path))
    # a private scope: the shared session's root is back untouched when
    # monkeypatch restores these
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_gateway", None)
    monkeypatch.setattr(session, "_scratch_root", None)
    src = tmp_path / "src"
    (src / "t.parquet").mkdir(parents=True)
    (src / "t.parquet" / "part-0").write_text("x")
    base = tmp_path / "lake_stage"
    dig = sc.source_digest(str(src), "t")
    dead = base / "scratch-pid999999999"        # no such /proc entry
    (dead / f"demo-{dig}").mkdir(parents=True)
    live = base / "scratch-pid1"
    live.mkdir()
    d = sc.scratch_dir(str(src), "t", "demo")
    assert d == base / f"scratch-pid{os.getpid()}" / f"demo-{dig}"
    assert d.is_dir()
    assert sc.scratch_dir(str(src), "t", "demo") == d   # reused
    if pathlib.Path("/proc").is_dir():
        assert not dead.exists()               # dead root swept
    assert live.exists()                       # live pid untouched


def test_recipe_digest_canonicalizes_nested_frozensets():
    """ADVICE r8: a frozenset nested inside a TUPLE const fell into the
    plain repr() branch, whose element order follows the per-process
    hash seed — the same cross-process instability the direct-frozenset
    branch fixed, one nesting level down.  Pin it with two interpreters
    forced onto different hash seeds."""
    import os
    import subprocess
    import sys

    prog = (
        "import sys; sys.path.insert(0,'/root/repo')\n"
        "from iot_simulator_datalake_spark.stagecache import"
        " _recipe_digest\n"
        "def b(work):\n"
        "    # tuple const carrying a nested frozenset (compiled as one\n"
        "    # co_consts entry)\n"
        "    pair = (('alpha', 'beta'), frozenset({'gamma', 'delta',"
        " 'epsilon', 'zeta'}))\n"
        "    return pair\n"
        "print(_recipe_digest(b))\n")
    outs = []
    for seed in ("1", "42"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        outs.append(subprocess.run(
            [sys.executable, "-c", prog], capture_output=True,
            text=True, check=True, env=env).stdout.strip())
    assert outs[0] == outs[1] and len(outs[0]) == 8
