"""SparkSession factory with scale-aware defaults.

The reference delegates session/cluster config to Databricks
(``resources/jobs.yml:7-19`` — single node, ``spark.master: local[*]``).
Here the equivalent knobs live in one place.  Tests and bench share one
session; the driver may pass its own session, in which case
:func:`tune_session` applies the runtime-settable subset (timezone,
AQE, the parquet write policy, shuffle partitions) without restarting
the JVM.  State scoped to one JVM lives here too: :func:`memo` and
:func:`scratch`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .stagecache import stage_root, sweep_dead_pids

#: Runtime-settable confs applied to ANY session we are handed (driver's
#: included).  Session timezone is pinned to UTC so timestamp-derived
#: columns (year/month/hour buckets) agree bit-for-bit with the DuckDB
#: oracle, whose timestamps are UTC-naive.
#: NOTE (ADVICE r1): ``tune_session`` mutates the session it is handed —
#: including a driver-provided one — so these confs apply to ALL of that
#: session's subsequent reads, not just this library's tables.  In
#: particular ``inferTimestampNTZ=false`` changes how plain-µs parquet
#: timestamps decode session-wide (as UTC instants instead of NTZ).
#: This is deliberate: the library's query surface requires UTC-instant
#: semantics, and a per-read escape hatch exists anyway (queries.load
#: detects an NTZ ``events.ts`` and converts through the live session
#: timezone), so a driver that objects to the session-wide effect can
#: skip tune_session and still get correct results.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver's events table stores ts as parquet TIMESTAMP(NANOS),
    # which Spark rejects by default; read as long and convert in
    # queries.load (DuckDB converts ns→µs the same way: truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # µs timestamps written by pyarrow carry isAdjustedToUTC=false and
    # would otherwise infer as TIMESTAMP_NTZ; read them as session-tz
    # (UTC) instants so unix_micros/watermarks/window() all apply and
    # wall-clock values match the DuckDB oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # The write policy: every parquet write inherits these three (no
    # write sets its own): streaming sinks, version dirs, state tables,
    # stage_once layouts.  tune_session applies them to a session the
    # driver passes in too, so they also change that session's own
    # writes.  Warehouse bytes are the lake's footprint.
    # - zstd: on the same bronze and silver batches its files are
    #   18-47 % smaller than snappy's (the smaller share on small
    #   micro-batches).
    # - INT64 microsecond timestamps instead of Spark's default INT96,
    #   which Parquet deprecates: 8 B instead of 12 B a value, min/max
    #   statistics (so row-group pushdown and engine/skipping.py can
    #   prune on a time key), and the same values (Spark timestamps are
    #   microseconds already).
    # - v2 data pages: sorted ints and timestamps are stored
    #   DELTA_BINARY_PACKED, strings DELTA_BYTE_ARRAY.
    # Together they cut the iot warehouse by ~23 %.  Readers known to
    # read these files: Spark >= 3.3, DuckDB 1.0, pyarrow; a table
    # mixing older INT96/v1 files with new ones reads back unchanged.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "parquet.writer.version": "v2",
}


def default_parallelism() -> int:
    """Shuffle-partition count: ≈ cores locally; a real cluster deployment
    would size this to 2-3× total executor cores (and lean on AQE
    coalescing), so we read the env the driver sets."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune_session(spark: SparkSession,
                 shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    ``spark.sql.shuffle.partitions`` IS runtime-settable, and the
    module docstring promises it: a driver-provided session would
    otherwise run every query at its own default (200) partitions.
    ``None`` sizes it from the environment like a fresh session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — fine
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(shuffle_partitions or default_parallelism()))
    except Exception:
        pass
    return spark


def driver_memory(phys_bytes: int) -> str:
    """Default ``spark.driver.memory``: half the host's RAM, within
    1–48 GiB.  The other half is for the JVM's off-heap use and the
    Python driver and workers (a fixed 48g heap on a 15 GiB host grew
    until the kernel OOM-killed it)."""
    mib = phys_bytes // 2 // 2**20
    return f"{max(1024, min(48 * 1024, mib))}m"


def get_spark(app_name: str = "iot_simulator_datalake_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the shared local session.

    local[N] = one JVM, N executor threads; ``spark.driver.memory`` is the
    only memory knob in local mode.  On a real cluster the same code runs
    unchanged — only master/memory/shuffle-partition settings move to
    spark-submit.
    """
    n = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEM", driver_memory(os.sysconf("SC_PHYS_PAGES")
                                              * os.sysconf("SC_PAGE_SIZE"))))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    # spark.driver.maxResultSize stays at Spark's 1g DEFAULT for every
    # product session: product queries never collect unbounded results
    # (audited — limit-probed / 1-row aggregates / k x d pins only),
    # and the 1g guard keeps that audit mechanically enforced instead
    # of by convention (ADVICE r10).  Only the non-stream oracle-gate
    # modes, which deliberately fetch whole results, export the env
    # override (tools/check_oracle.py main); stream mode
    # (ORACLE_STREAM_MODE=1) verifies values via executor-side digests
    # and runs under the same 1g default as production.
    mr = os.environ.get("SPARK_DRIVER_MAX_RESULT")
    if mr:
        builder = builder.config("spark.driver.maxResultSize", mr)
    # spark-submit warns about and drops a non-``spark.`` key such as
    # parquet.writer.version; tune_session sets those on the session.
    for k, v in RUNTIME_CONFS.items():
        if k.startswith("spark."):
            builder = builder.config(k, v)
    # NOTE getOrCreate IGNORES builder configs when a session already
    # exists — master/memory are then fixed for the JVM's lifetime.
    # The runtime-settable subset (tune_session, incl. the explicit
    # shuffle_partitions arg) is re-applied below either way, so that
    # arg is honored even on a reused session.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions)


_MEMO: dict = {}
_gateway = None     # the py4j gateway _MEMO and _scratch_root belong to
_scratch_root: Path | None = None


def _jvm_scope() -> None:
    """Drop the memo and the scratch root if the gateway was replaced.
    Pure Python (no py4j round-trip): one attribute read."""
    global _gateway
    gw = SparkContext._gateway
    if gw is not _gateway:
        _MEMO.clear()
        _drop_scratch()
        _gateway = gw


def memo(key, build: Callable):
    """``build()``, computed once per live JVM and ``key`` (keys are
    shared by all call sites).

    For parameter-pure objects that cost py4j round-trips to construct
    and are reused by every later query build: unresolved, exprId-free
    Columns (callers alias them, so each plan gets fresh exprIds),
    parquet schemas, staged-index stats.  A Column is a handle into the
    JVM that built it, so when ``SparkContext._gateway`` is replaced
    (gateway shut down, session rebuilt in-process) every entry is
    dropped.  A plain ``spark.stop()`` keeps the gateway and the memo.
    Threads racing on a missing key may both build it; either result
    is valid."""
    _jvm_scope()
    v = _MEMO.get(key)
    if v is None:
        v = _MEMO[key] = build()
    return v


def scratch_root() -> Path:
    """This process's ``lake_stage/scratch-pid<pid>``.  It goes when the
    gateway is replaced or the process exits, and a killed process's
    root is swept by the next process that makes one."""
    global _scratch_root
    _jvm_scope()
    if _scratch_root is None:
        root = stage_root() / f"scratch-pid{os.getpid()}"
        root.mkdir(parents=True, exist_ok=True)
        sweep_dead_pids(root.parent, "scratch-pid*", keep=root)
        _scratch_root = root
    return _scratch_root


def scratch(prefix: str) -> str:
    """A fresh dir for a query's sinks, checkpoints or landing files,
    under :func:`scratch_root`; it outlives the call (its DataFrames
    read the dir lazily)."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


@atexit.register
def _drop_scratch() -> None:
    global _scratch_root
    if _scratch_root is not None:
        shutil.rmtree(_scratch_root, ignore_errors=True)
        _scratch_root = None
