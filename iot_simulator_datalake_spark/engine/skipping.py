"""File-level data skipping from a min/max stats manifest — the OSS
analog of the Delta-transaction-log data skipping the reference's
Databricks tier provides implicitly (README_DBT.md:103-104's managed
OPTIMIZE exists precisely to make this pruning effective).

Spark's parquet reader already does ROW-GROUP pruning from footers,
but it must still open every file to read the footer.  At 100 TB /
~10⁶ files the per-file open+footer round trip (especially on object
storage) dominates selective scans.  A stats manifest fixes that: one
small table of per-file (min, max) per indexed column, consulted at
plan time to hand Spark only the files that can match.

Pairs with :func:`engine.maintenance.cluster`: range-clustering makes
per-file ranges narrow and disjoint, which is what makes file-level
skipping selective (an unclustered table has every file spanning the
full key range, so nothing skips).

The manifest is rebuilt after compaction/clustering (both rewrite the
directory); writers that append incrementally add rows for new files
only — footers are read once per file ever, not once per query.
Builds replace the manifest whole (``publish.write_file_atomic``); a
backfilled version starts without one (``publish.overlay_version``).
Per-file Bloom entries have one form, ``{bits, bitmap}`` sized per
file by :func:`build_bloom_manifest`; :func:`prune_files_eq` keeps a
file whose entry has any other form.

Timestamps get stats only when written as INT64 (the engine's write
policy, ``session.RUNTIME_CONFS``, writes TIMESTAMP(MICROS); Spark's
default INT96 has none).  Stats and probes compare in one form
(:func:`_norm`): a timestamp that carries a timezone is converted to
UTC and compared without one, and a date compares as its midnight, the
way Spark compares a date with a timestamp.  A manifest written before
that form (no ``"norm"`` key) prunes nothing on a date or timestamp
probe: its stored strings mix forms that do not order by value.
"""

from __future__ import annotations

import json
from datetime import date, datetime, time, timezone
from pathlib import Path
from typing import TYPE_CHECKING

from .publish import write_file_atomic

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

STATS_MANIFEST = "_file_stats.json"
#: the manifest's value form; manifests without it predate :func:`_norm`'s
#: one temporal form
NORM = 2


def _norm(v):
    """JSON-portable normalization for min/max values and probes.

    Dates and timestamps become one fixed-width string form that orders
    by value: naive UTC, ``YYYY-MM-DDTHH:MM:SS.ffffff``.  pyarrow
    returns INT64 timestamp stats with a timezone while probes usually
    have none, and date stats are plain dates: comparing their bare
    isoformats dropped a file whose bound equals the probe."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, date):
        return _norm(datetime.combine(v, time()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _stale(manifest: dict, probe) -> bool:
    """Whether ``manifest`` cannot prune for ``probe``: it was written
    before :data:`NORM` and the probe is a date or timestamp."""
    return manifest.get("norm") != NORM and isinstance(probe, date)


def build_stats_manifest(path: str | Path, cols: list[str]) -> int:
    """Collect per-file min/max for ``cols`` from parquet footers into
    ``<path>/_file_stats.json``; returns the number of files indexed.

    Footer statistics aggregate over row groups (file min = min over
    row-group mins).  Runs driver-side with pyarrow: at 10⁶ files this
    becomes a small Spark job over the file list (mapPartitions of
    footer reads) writing a parquet manifest — same shape, same
    consumer.
    """
    import pyarrow.parquet as pq

    root = Path(path)
    entries = {}
    for f in sorted(root.rglob("*.parquet")):
        if not f.is_file():
            continue
        meta = pq.ParquetFile(str(f)).metadata
        idx = {meta.schema.column(i).name: i
               for i in range(meta.num_columns)}
        stats: dict[str, list] = {}
        for c in cols:
            if c not in idx:
                continue  # partition column or absent — no file stats
            lo = hi = None
            for rg in range(meta.num_row_groups):
                s = meta.row_group(rg).column(idx[c]).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                stats[c] = [_norm(lo), _norm(hi)]
        entries[str(f.relative_to(root))] = stats
    out = {"columns": cols, "files": entries, "norm": NORM}
    write_file_atomic(root / STATS_MANIFEST,
                      json.dumps(out, indent=1, sort_keys=True))
    return len(entries)


def read_stats_manifest(path: str | Path) -> dict:
    p = Path(path) / STATS_MANIFEST
    return json.loads(p.read_text())


def prune_files(path: str | Path, col: str, lo=None, hi=None) -> list[str]:
    """Files whose [min, max] range on ``col`` intersects [lo, hi]
    (either bound may be None = unbounded).  Files with no stats for
    ``col`` are conservatively kept — skipping must never drop rows.
    """
    root = Path(path)
    manifest = read_stats_manifest(root)
    # normalize the probe bounds the same way the manifest stored its
    # min/max (_norm); a raw str-vs-datetime comparison raises
    nlo = None if lo is None else _norm(lo)
    nhi = None if hi is None else _norm(hi)
    stale = _stale(manifest, lo) or _stale(manifest, hi)
    kept = []
    for rel, stats in manifest["files"].items():
        rng = stats.get(col)
        if rng is None or stale:
            kept.append(str(root / rel))
            continue
        fmin, fmax = rng
        if (nlo is None or fmax >= nlo) and (nhi is None or fmin <= nhi):
            kept.append(str(root / rel))
    return kept


def scan_with_skipping(spark: "SparkSession", path: str | Path, col: str,
                       lo=None, hi=None) -> tuple["DataFrame", int, int]:
    """Range-filtered scan that hands Spark only the files that can
    match: returns (df, n_files_read, n_files_total).

    The residual predicate is re-applied on the pruned scan — the
    manifest only eliminates files, it never substitutes for the
    filter (row groups inside a kept file still prune via footers,
    and exact row filtering happens in the scan).
    """
    from pyspark.sql import functions as F

    files = prune_files(path, col, lo, hi)
    total = len(read_stats_manifest(path)["files"])
    if not files:
        # degenerate: nothing can match; preserve schema via empty read
        df = spark.read.parquet(str(path)).limit(0)
        return df, 0, total
    # basePath keeps hive partition columns in the schema when only
    # pruned leaf files are handed to the reader — without it the
    # pruned and unpruned scans disagree on schema
    df = spark.read.option("basePath", str(path)).parquet(*files)
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df, len(files), total


# =========================================================================
# Per-file Bloom filters — equality pruning where ranges cannot help
# =========================================================================
#
# Min/max skipping needs CLUSTERED layout to bite: on an unclustered
# table every file spans the full key range and no range test prunes.
# A per-file Bloom filter prunes EQUALITY probes regardless of layout —
# the same role as Parquet's optional column bloom filters or Delta's
# bloom indexes, lifted into the manifest so point lookups skip file
# opens entirely.  False positives cost a wasted file read; false
# negatives are impossible (the correctness contract).

BLOOM_BITS = 8192       # floor of the per-file size
BLOOM_HASHES = 4
#: auto-size target: m = 8 bits/key with k=4 ⇒ fpp = (1−e^−km/m)^k ≈ 2.4%.
#: A FIXED size is the classic bloom failure mode — the ×10-replica
#: sweep caught 8192 bits fully saturated by 1.25 M keys/file (every
#: probe positive, 8/8 files read, zero skipping); per-file sizing by
#: distinct count keeps fpp flat however the file row count scales.
BLOOM_BITS_PER_KEY = 8


def _pow2ceil(n: int) -> int:
    return 1 << max(0, n - 1).bit_length()


def _bloom_key(v) -> str:
    """Type-canonical bloom hash key: ints and int-valued floats hash
    IDENTICALLY (parquet numeric columns surface as Python floats from
    pyarrow while probes often pass ints — repr-based hashing made a
    probe for ``5`` miss files holding ``5.0``, a false NEGATIVE, the
    one error class a bloom must never produce).  Non-numerics go
    through the same JSON normalization as the min/max stats.  Large
    ints past float53 may collide after the float round-trip — a
    false-POSITIVE only, which blooms tolerate by design."""
    if not isinstance(v, bool) and isinstance(v, (int, float)):
        f = float(v)
        return f"i:{int(f)}" if f.is_integer() else f"f:{f!r}"
    return f"s:{_norm(v)}"


def _bloom_positions(value, bits: int, k: int) -> list[int]:
    import hashlib
    key = _bloom_key(value)
    out = []
    for i in range(k):
        h = hashlib.md5(f"{i}:{key}".encode()).hexdigest()
        out.append(int(h[:15], 16) % bits)
    return out


def build_bloom_manifest(path: str | Path, cols: list[str]) -> int:
    """Add per-file Bloom bitmaps for ``cols`` to the stats manifest
    (which must already exist; blooms extend, not replace, min/max).

    Sizing: each (file, col) bloom is auto-sized to the next power of
    two ≥ ``BLOOM_BITS_PER_KEY`` × its distinct count (floored at
    ``BLOOM_BITS``) and the size rides the manifest entry as
    ``{bits, bitmap}`` — a fixed global size saturates as file row
    counts grow (measured: 8192 bits vs 1.25 M keys/file at the ×10
    replica = zero skipping), while per-file sizing keeps the
    false-positive rate flat at any scale.

    Driver-side with pyarrow here (reads only the indexed columns);
    at 10⁶ files this is the same mapPartitions-over-file-list Spark
    job as the stats build, emitting (file, col, bits, bitmap) rows.
    """
    import pyarrow.parquet as pq

    root = Path(path)
    manifest = read_stats_manifest(root)
    manifest["bloom"] = {"hashes": BLOOM_HASHES, "files": {}}
    for rel in manifest["files"]:
        f = root / rel
        # intersect with the file's own schema first: pyarrow raises on
        # absent columns, so schema-evolved tables (a column added in
        # later files) would otherwise fail the whole build (ADVICE r2)
        present = [c for c in cols
                   if c in pq.ParquetFile(str(f)).schema_arrow.names]
        table = pq.read_table(str(f), columns=present)
        per_col = {}
        for c in present:
            vals = {v for v in set(table.column(c).to_pylist())
                    if v is not None}
            m = _pow2ceil(max(BLOOM_BITS, len(vals) * BLOOM_BITS_PER_KEY))
            # Accumulate in a bytearray, not a Python int: `big |= 1
            # << pos` copies the WHOLE bitmap per set bit — O(keys ×
            # m/8 bytes), which at replica scale (7.5 M keys × 64
            # Mbit auto-sized bloom per file) is terabytes of memcpy
            # (measured: the ×100 build wedged past the 1 h sweep
            # timeout; this form finishes in minutes).  Bit layout is
            # IDENTICAL — int.from_bytes(little) puts buf bit
            # (pos>>3, pos&7) at int bit pos — so probes and staged
            # manifests are unaffected.
            buf = bytearray((m + 7) >> 3)
            for v in vals:
                for pos in _bloom_positions(v, m, BLOOM_HASHES):
                    buf[pos >> 3] |= 1 << (pos & 7)
            per_col[c] = {"bits": m,
                          "bitmap": hex(int.from_bytes(buf, "little"))}
        manifest["bloom"]["files"][rel] = per_col
    write_file_atomic(root / STATS_MANIFEST,
                      json.dumps(manifest, indent=1, sort_keys=True))
    return len(manifest["bloom"]["files"])


def prune_files_eq(path: str | Path, col: str, value) -> list[str]:
    """Files that may contain ``col = value``: min/max range test AND
    Bloom membership (when a ``{bits, bitmap}`` bloom exists for the
    file+column).  Files lacking stats or such a bloom are
    conservatively kept, and so is every file of a manifest that
    predates :data:`NORM` when ``value`` is a date or timestamp (its
    bloom keys were hashed from the old strings too)."""
    root = Path(path)
    manifest = read_stats_manifest(root)
    if _stale(manifest, value):
        return [str(root / rel) for rel in manifest["files"]]
    bloom = manifest.get("bloom") or {}
    hashes = bloom.get("hashes", BLOOM_HASHES)
    pos_cache: dict[int, list[int]] = {}
    nval = _norm(value)
    kept = []
    for rel, stats in manifest["files"].items():
        rng = stats.get(col)
        if rng is not None:
            fmin, fmax = rng
            if not (fmin <= nval <= fmax):
                continue
        ent = (bloom.get("files", {}).get(rel) or {}).get(col)
        if isinstance(ent, dict):
            m = ent["bits"]
            if m not in pos_cache:
                pos_cache[m] = _bloom_positions(value, m, hashes)
            bitmap = int(ent["bitmap"], 16)
            if not all(bitmap >> p & 1 for p in pos_cache[m]):
                continue
        kept.append(str(root / rel))
    return kept


def scan_with_skipping_eq(spark: "SparkSession", path: str | Path,
                          col: str, value) -> tuple["DataFrame", int, int]:
    """Equality-probe scan over only the files the manifest admits:
    returns (df, n_files_read, n_files_total).  The equality predicate
    is re-applied on the scan — pruning eliminates files, never rows.
    """
    from pyspark.sql import functions as F

    files = prune_files_eq(path, col, value)
    total = len(read_stats_manifest(path)["files"])
    if not files:
        df = spark.read.parquet(str(path)).limit(0)
        return df, 0, total
    # basePath keeps hive partition columns in the schema when only
    # some leaf files survive pruning (same divergence scan_with_
    # skipping fixed in r7; latent here while bloom layouts are
    # unpartitioned, but the helper is public API).
    df = (spark.read.option("basePath", str(path)).parquet(*files)
          .filter(F.col(col) == F.lit(value)))
    return df, len(files), total
