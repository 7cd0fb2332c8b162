"""Table publication: how a rewritten table becomes visible and how a
crash midway heals.  The only module that knows the on-disk publish
layout.  Siblings are named from the table's FULL name
(``<name>.v-<8 hex>``, ``.log``, ``.ln-<hex>``, ``.staging``,
``.old``), so tables sharing a stem never share one.

- **version install** (engine tables): write a :func:`new_version_dir`,
  then :func:`_install_version` records it in the table's commit log
  (``<name>.log/NNNNNNNN.json``) and retargets the table's symlink.
  The log is the table's history: ``engine/snapshots.py`` reads
  versions, time travel and diffs from it, and each install reclaims
  the logged versions beyond the table's retention depth, so disk
  stays bounded over any number of refreshes.  A version dir the log
  never named is never touched.
- **staged swap** (state tables, plain dirs such as ``stage_once``
  layouts, which must stay real dirs): :func:`_atomic_swap_write`;
  every reader and writer first runs :func:`_restore_crashed_swap`.

``_STEP_HOOK`` is the crash seam (tests/test_crash_injection.py):
called after each externally visible step of both protocols; always
None in production.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Sequence

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_STEP_HOOK = None

#: retention depth of a table whose log records none; a model's
#: ``snapshot_keep`` of None means this
DEFAULT_KEEP = 2


def _step(name: str) -> None:
    if _STEP_HOOK is not None:
        _STEP_HOOK(name)


def _sibling(path: Path, suffix: str) -> Path:
    return path.with_name(path.name + suffix)


def new_version_dir(path: Path) -> Path:
    """A fresh ``<table>.v-<8 hex>`` dir name beside ``path``."""
    return _sibling(path, f".v-{uuid.uuid4().hex[:8]}")


def _link_target(link: Path) -> str | None:
    return os.readlink(link) if link.is_symlink() else None


def _is_version(final: Path, name: str | None) -> bool:
    """``name`` is one of ``final``'s version siblings — never a dir a
    hand-made link names."""
    return (name is not None and "/" not in name
            and name.startswith(f"{final.name}.v-"))


def _temp_link(final: Path, target: str) -> Path:
    """A fresh ``.ln-`` symlink to ``target``, to rename(2) over a link."""
    tmp = _sibling(final, f".ln-{uuid.uuid4().hex[:8]}")
    os.symlink(target, tmp)         # relative: version dirs sit beside
    return tmp


def _entry(log: Path, n: int) -> Path:
    return log / f"{n:08d}.json"


def read_log(path: str | Path) -> dict[int, dict]:
    """The table's commit log, ``{number: {"dir", "replaced", "unix_ts",
    "keep"}}``; ``dir`` names a version sibling of ``path`` and
    ``replaced`` the link target its install replaced (or None).  An
    entry still being
    written (between its writer's ``O_EXCL`` create and its single
    write) is skipped as not yet committed."""
    log = _sibling(Path(path), ".log")
    entries: dict[int, dict] = {}
    if not log.is_dir():
        return entries
    for f in log.iterdir():
        if f.suffix == ".json" and f.stem.isdigit():
            try:
                entries[int(f.stem)] = json.loads(f.read_text())
            except (OSError, ValueError):
                continue
    return entries


def _append_log(final: Path, name: str, replaced: str | None,
                keep: int) -> int:
    """Claim the next log entry for version ``name``; returns its
    number.  ``O_CREAT|O_EXCL`` is the put-if-absent: a create that
    fails means another writer holds that number, so try the next
    (Delta's optimistic commit, reduced to local files).  On an object
    store without atomic create the claim becomes a conditional put."""
    log = _sibling(final, ".log")
    log.mkdir(exist_ok=True)
    payload = json.dumps({"dir": name, "replaced": replaced,
                          "unix_ts": time.time(), "keep": keep},
                         sort_keys=True)
    n = max(read_log(final), default=-1) + 1
    while True:     # each failed create is a committed entry: finite
        try:
            fd = os.open(_entry(log, n), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            n += 1
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        return n


def reclaim_versions(path: str | Path, keep: int,
                     protect: Sequence[str] = ()) -> list[int]:
    """Drop the logged versions older than the newest ``keep`` (0 keeps
    every version); returns the dropped entry numbers.  Only a version
    a later entry names as ``replaced`` goes: one no entry names may
    still await its writer's retarget (a writer that claimed an entry
    and stalled while others installed), and deleting it would leave
    the link dangling once that writer resumes.  The link's target,
    any name in ``protect`` and any dir a retained entry names survive.
    The entry (what makes a version reachable) goes first, then its
    dir, so the log never names a missing dir."""
    final = Path(path)
    log = read_log(final)
    if keep < 1 or len(log) <= keep:
        return []
    order = sorted(log)
    done = {e.get("replaced") for e in log.values()}
    spare = {_link_target(final), *protect,
             *(log[n]["dir"] for n in order[-keep:])}
    dropped = []
    for n in order[:-keep]:
        name = log[n]["dir"]
        if name in spare or name not in done:
            continue
        _entry(_sibling(final, ".log"), n).unlink(missing_ok=True)
        if _is_version(final, name):
            shutil.rmtree(final.parent / name, ignore_errors=True)
        dropped.append(n)
    return dropped


def _install_version(vdir: Path, final: Path,
                     keep: int | None = None) -> int:
    """Install a fully-written version dir as ``final`` — concurrent-
    writer AND concurrent-reader safe (VERDICT r2 #3); returns its log
    entry number.

    Spark's own ``mode("overwrite")`` deletes the target then writes
    into it, so two simultaneous writers interleave part files into one
    corrupt table — and even staged-write-then-rename breaks concurrent
    READERS, whose resolved file listings dangle when the dir under
    them is replaced (observed: FileNotFound task failures in the
    concurrent-run test).  So ``final`` is a SYMLINK, atomically
    retargeted (symlink + rename(2) over the old link): writers
    serialize to last-committer-wins.  The engine registers its OWN
    version dir for same-run downstream reads; fresh readers of the
    table path resolve the link to the newest complete version.

    Steps: (1) claim the next entry of ``<name>.log`` naming ``vdir``
    and the version it replaces (:func:`_append_log`); (2) retarget
    ``final``; (3) reclaim the replaced-and-superseded versions beyond
    the retention depth (:func:`reclaim_versions`), sparing the link's
    target and the version this install replaced.  The depth is recorded in every
    entry: ``keep`` (≥ 1, or 0 for every version) sets it, and None
    inherits the newest entry's, or :data:`DEFAULT_KEEP` — so an
    install that does not come from the model (compact, cluster,
    zorder) keeps the model's depth.  A reader that resolved the table
    before install N keeps its snapshot until the version leaves the
    retained window; a crash at any step leaves the current version,
    the replaced one and ``vdir`` on disk, and the log never names a
    missing dir.  A dir the log never named — a concurrent writer's
    staged one, an ``atomic_publish`` run's deferral — survives every
    install, and so does one no install names as replaced (a writer
    killed between claim and retarget, or the loser of two racing
    retargets); :func:`vacuum_table_versions` drops them, once nothing
    runs.  Entry numbers are unique while nothing is reclaimed; a
    writer stalled between reading the log and its claim while more
    than ``keep`` installs complete can claim a reclaimed number.

    Migration: if ``final`` is a real directory from an older layout,
    it is renamed to ``<name>.v-legacy`` first (readers of the path
    itself see one brief ENOENT window during this one-time
    conversion).  The first install into a table without a log adopts
    the versions the older layout kept — the replaced version and the
    target of the retired ``<name>.prev`` link — as its first entries,
    so they are reclaimed like any other.
    """
    legacy = _sibling(final, ".v-legacy")
    if final.exists() and not final.is_symlink():
        try:
            os.rename(final, legacy)
        except OSError:
            pass                    # another writer already converted it
    _step("install:legacy-converted")
    # read the link BEFORE the log: a log-era writer logs before it
    # links, so an empty log then means a table from an older layout
    replaced = _link_target(final) or (legacy.name if legacy.is_dir()
                                       else None)
    log = read_log(final)
    if keep is None:
        keep = log[max(log)].get("keep", DEFAULT_KEEP) if log else DEFAULT_KEEP
    if not log:
        prev, before = _sibling(final, ".prev"), None
        for name in dict.fromkeys((_link_target(prev), replaced)):
            if _is_version(final, name) and (final.parent / name).is_dir():
                _append_log(final, name, before, keep)
                before = name
        prev.unlink(missing_ok=True)
    _step("install:adopted")
    n = _append_log(final, vdir.name, replaced, keep)
    _step("install:logged")
    tmp = _temp_link(final, vdir.name)
    _step("install:tmp-linked")
    os.replace(tmp, final)          # atomic over an existing symlink
    _step("install:replaced")
    reclaim_versions(final, keep, protect=[replaced] if replaced else ())
    _step("install:reclaimed")
    return n


def vacuum_table_versions(path: str | Path) -> list[str]:
    """Delete every ``<table>.v-*`` version dir the current symlink does
    not target, and the log entries naming them.  Call only when no
    reader may still hold an older version and no writer is staging
    one — same contract as Delta VACUUM with retention 0."""
    final = Path(path)
    current = _link_target(final)
    for n, e in read_log(final).items():
        if e["dir"] != current:
            _entry(_sibling(final, ".log"), n).unlink(missing_ok=True)
    dropped = []
    for p in final.parent.glob(f"{final.name}.v-*"):
        if p.name != current:
            shutil.rmtree(p, ignore_errors=True)
            dropped.append(p.name)
    return dropped


def _restore_crashed_swap(path: Path) -> None:
    """Recover from a crash INSIDE a previous staged swap: between
    moving the live dir to ``.old`` and promoting the stage, the only
    complete copy of the state lives at ``.old``.  Readers and writers
    call this first — without it, the next write would ``rmtree(.old)``
    the sole surviving copy and silently rebuild the state from one
    batch (total tombstone/history loss)."""
    old = _sibling(path, ".old")
    if not (path / "_SUCCESS").exists() and (old / "_SUCCESS").exists():
        shutil.rmtree(path, ignore_errors=True)  # absent or incomplete
        old.rename(path)


def _atomic_swap_write(df: "DataFrame", path: Path, finalize=None,
                       partition_by: Sequence[str] = ()) -> None:
    """Write ``df`` over the dir at ``path`` via the staged-rename
    protocol (stage → move live to .old → promote stage → drop .old),
    with crash-window recovery on entry.  ONE definition shared by the
    state tables (operators/scd.py, engine/incremental.py) and
    maintenance's plain-dir rewrites — the swap's failure modes are
    subtle enough that drifting copies were themselves review
    findings, twice.  ``finalize(tmp_dir)`` runs after the stage is
    fully written and before it is promoted — for markers that must
    swap atomically WITH the data (e.g. the incremental tables'
    ``_epoch`` replay guard).  ``partition_by`` writes the stage
    hive-partitioned."""
    _restore_crashed_swap(path)
    _step("swap:restored")
    tmp = _sibling(path, ".staging")
    shutil.rmtree(tmp, ignore_errors=True)
    _step("swap:stage-cleared")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))
    _step("swap:staged")
    if finalize is not None:
        finalize(tmp)
    _step("swap:finalized")
    old = _sibling(path, ".old")
    shutil.rmtree(old, ignore_errors=True)
    _step("swap:old-cleared")
    if path.exists():
        path.rename(old)
    _step("swap:live-moved")
    tmp.rename(path)
    _step("swap:promoted")
    shutil.rmtree(old, ignore_errors=True)
    _step("swap:old-dropped")


def read_state(spark: "SparkSession", path: Path) -> "DataFrame | None":
    """The state table at ``path`` after crash recovery, or None if no
    complete state was ever published."""
    _restore_crashed_swap(path)
    if not (path / "_SUCCESS").exists():
        return None
    return spark.read.parquet(str(path))
