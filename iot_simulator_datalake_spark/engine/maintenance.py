"""Table maintenance: small-file compaction — the OSS analog of the
DLT-managed ``OPTIMIZE`` the reference relies on (README_DBT.md:103-104,
227 "Automatic ... VACUUM, OPTIMIZE").

Streaming tables append ⌈batch bytes / split size⌉ files per
micro-batch (per partition value; streaming/runner.py), so every
refresh adds at least one file; at 100 TB that degrades scans
(file-listing cost, tiny row groups, no row-group pruning).  Compaction
rewrites a table directory to size-targeted files.  It is the one
maintenance task a triggered-mode lakehouse must schedule.  A
streaming table's own directory is refused (see
:func:`_refuse_streaming_table`): its ``_spark_metadata`` sink log is
the table's file list, and a rewrite without it wedges the next
refresh.  Rewrites publish through engine/publish.py, like every other
table write, as a new logged version dir.  The install keeps the
table's retention depth (its model's ``snapshot_keep``, recorded in
the log; 2 by default), so older versions stay readable for in-flight
readers and time travel and the ones beyond the depth are reclaimed
(``publish.vacuum_table_versions`` drops all but the current one once
readers are quiet).  A plain directory is adopted as the table's first
version by its first rewrite, and is a path-readable versioned table
from then on.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from .publish import _install_version, adopt_orphan, write_version

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024   # the standard lake target


def table_file_stats(path: str | Path) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table directory."""
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def compact(spark: "SparkSession", path: str | Path,
            target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite a parquet table dir to ⌈bytes/target⌉ files; returns the
    new file count.  Uses coalesce (no shuffle) since compaction only
    merges — it never needs to redistribute rows.  Partitioned tables
    compact per-partition automatically (coalesce preserves the
    partition columns through the rewrite's partitionBy discovery)."""
    src = _source(path)
    n_files, total = table_file_stats(src)
    n_target = max(1, -(-total // target_file_bytes))
    if n_files <= n_target:
        return n_files
    df = spark.read.parquet(str(src))
    _atomic_rewrite(src, df.coalesce(n_target))
    return table_file_stats(src)[0]


def cluster(spark: "SparkSession", path: str | Path, cols: list[str],
            target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Range-cluster a parquet table on ``cols`` (the OSS analog of
    ``OPTIMIZE ... ZORDER BY`` the reference's DLT tier manages —
    README_DBT.md:103-104,227): rows are range-partitioned then sorted
    within files, so every file's parquet footer carries a NARROW,
    pairwise-disjoint min/max range for the leading cluster column.

    Scans that filter on the cluster key then skip whole files /
    row-groups via footer stats — at 100 TB this is the difference
    between touching ~1/n_files of the data and touching all of it.
    Lexicographic multi-column clustering (not a space-filling curve):
    right for the dominant key + tiebreak pattern (e.g. device, ts);
    a bit-interleaved Z-curve variant would trade leading-key locality
    for balanced multi-key skipping.  Returns the new file count.

    The range partitioner samples key quantiles, so output files are
    size-balanced even under heavy key skew — a hash partitioner
    would put one hot key's whole mass in one file.
    """
    src = _source(path)
    _, total = table_file_stats(src)
    n_target = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(str(src))
    clustered = (df.repartitionByRange(n_target, *cols)
                 .sortWithinPartitions(*cols))
    _atomic_rewrite(src, clustered)
    return table_file_stats(src)[0]


def _source(path: str | Path) -> Path:
    """``path`` as a table to rewrite: a plain dir whose conversion a
    crash cut short is renamed back (:func:`publish.adopt_orphan`), and
    a streaming table is refused."""
    src = Path(path)
    adopt_orphan(src)
    _refuse_streaming_table(src)
    return src


def _refuse_streaming_table(src: Path) -> None:
    """A streaming table's files are listed by its ``_spark_metadata``
    sink log, which readers trust over the directory.  A rewrite
    leaves the log out, so the sink's next batch starts a log that
    lacks its earlier entries and every later read fails
    (``IllegalStateException: …/_spark_metadata/0 doesn't exist``)."""
    if (src / "_spark_metadata").exists():
        raise ValueError(
            f"refusing to rewrite {src}: it is a streaming table (it "
            f"holds _spark_metadata, the sink log that lists its "
            f"files); a rewrite would break its next refresh")


def _atomic_rewrite(src: Path, df) -> None:
    """Rewrite ``src`` from ``df`` as a new version dir and a retargeted
    link, preserving hive-style partition columns, so the path resolves
    at every instant (a plain directory becomes the replaced version)."""
    part_cols = sorted({seg.split("=", 1)[0]
                        for p in src.rglob("*.parquet")
                        for seg in p.relative_to(src).parts[:-1]
                        if "=" in seg})
    _install_version(write_version(df, src, part_cols), src)


def _morton_key(cols: list[str], bits: int = 16):
    """Bit-interleaved Z-curve key over integer columns (rank-reduced
    upstream).  For d columns, bit i of column j lands at position
    i·d + j — the classic Morton interleave, built as a sum of
    shift/mask codegen expressions (no UDF)."""
    from pyspark.sql import functions as F
    d = len(cols)
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(F.col(c).cast("long"), i)
                            .bitwiseAND(F.lit(1)), i * d + j))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder(spark: "SparkSession", path: str | Path, cols: list[str],
           target_file_bytes: int = TARGET_FILE_BYTES,
           bits: int = 16) -> int:
    """Z-ORDER a parquet table on multiple columns via a Morton
    (bit-interleaved) space-filling curve — the true multi-key form of
    :func:`cluster`: instead of lexicographic (dominant-key) order,
    every file covers a small HYPER-CUBE of the key space, so min/max
    skipping prunes on EVERY z-ordered column, not just the leading
    one.

    Columns are first rank-normalized per column into 2^bits buckets
    via sampled quantile boundaries (``approxQuantile`` + a codegen'd
    binary-search ``width_bucket``-style lookup) — robust to skew and
    arbitrary value ranges, and the same sampled-range-partition-id
    scheme Delta's OPTIMIZE ZORDER uses.  Crucially the bucket mapping
    is a MAP-ONLY expression: the earlier ntile-over-unpartitioned-
    window formulation funneled the whole table through one partition
    per z-column (ADVICE r2), which is a non-starter at 100 TB —
    approxQuantile computes boundaries in one distributed pass
    (Greenwald-Khanna) and only the tiny boundary array rides the
    closure.  The curve key is transient — dropped before write.
    Returns the new file count.
    """
    from pyspark.sql import functions as F

    src = _source(path)
    _, total = table_file_stats(src)
    n_target = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(str(src))
    # boundary count: enough resolution that each bucket maps to one
    # rank value, capped so the literal array stays closure-sized
    n_buckets = min(1 << bits, 4096)
    ranked = df
    rank_cols = []
    for c in cols:
        rc = f"__zr_{c}"
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(c, probs, 0.001)
        # strictly-increasing boundary list (dedup ties from skew)
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        arr = F.array(*[F.lit(b) for b in uniq])
        # bucket = count of boundaries < value: an O(log n) interpreted
        # filter would also work, but size+filter is codegen-friendly
        # and the array is ≤4096 doubles evaluated once per row
        bucket = F.size(F.filter(arr, lambda b: b < F.col(c).cast("double")))
        scale = max(1, (1 << bits) // (len(uniq) + 1))
        ranked = ranked.withColumn(
            rc, (bucket.cast("long") * scale))
        rank_cols.append(rc)
    zkey = _morton_key(rank_cols, bits)
    zordered = (ranked.withColumn("__zkey", zkey)
                .repartitionByRange(n_target, F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey", *rank_cols))
    _atomic_rewrite(src, zordered)
    return table_file_stats(src)[0]
