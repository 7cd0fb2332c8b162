"""Table publication: how a rewritten table becomes visible and how a
crash midway heals.  The only module that knows the on-disk publish
layout, writes a version dir or renames a file into place.  Siblings
are named from the table's FULL name (``<name>.v-<8 hex>``, ``.log``,
``.ln-<hex>``), so tables sharing a stem never share one.

One protocol for every table rewrite in the package — engine models,
backfills, snapshots, maintenance rewrites and the state tables of
operators/scd.py and engine/incremental.py: :func:`write_version` (a
backfill: :func:`overlay_version`) writes a fresh version dir, or
deletes it if the write fails, then :func:`_install_version` records it
in the table's commit log (``<name>.log/NNNNNNNN.json``) and
retargets the table's symlink.  The log is the table's history:
``engine/snapshots.py`` reads versions, time travel and diffs from it,
and each install reclaims the logged versions beyond the table's
retention depth, so disk stays bounded over any number of refreshes.
A version dir the log never named is never touched.  A plain
directory (an older layout, or a table written by path) is adopted as
the first version by its first install.  :func:`read_state` is the one
reader for "the published table or None".  :func:`write_file_atomic`
replaces a small file (schema store, manifest, commit marker) whole.

``_STEP_HOOK`` is the crash seam (tests/test_crash_injection.py):
called after each externally visible step of the install; always None
in production.
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


def write_version(df: "DataFrame", path: Path,
                  partition_by: Sequence[str] = ()) -> Path:
    """Write ``df`` as a fresh version dir of the table at ``path``
    (optionally hive-partitioned) and return it, not yet installed:
    the caller hands it to :func:`_install_version`, now or later."""
    return _write(df, path, partition_by, overlay=False)


def overlay_version(df: "DataFrame", path: Path,
                    partition_by: Sequence[str]) -> Path:
    """:func:`write_version` over a hardlink copy of the current
    version's data, replacing only the partitions ``df`` holds: a
    backfill never writes through the version readers resolved."""
    return _write(df, path, partition_by, overlay=True)


def _write(df: "DataFrame", path: Path, partition_by: Sequence[str],
           overlay: bool) -> Path:
    """The one version write.  A write that raises deletes its dir: no
    log entry names it yet, so nothing else would ever reclaim it."""
    vdir = new_version_dir(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if overlay:     # a per-write option: the session's mode stays
        writer = writer.option("partitionOverwriteMode", "dynamic")
    try:    # an overlay copies what Spark lists as data ("_p=x" is;
        if overlay and path.exists():   # _SUCCESS and a manifest of
            src = str(path.resolve())   # the replaced files are not)
            shutil.copytree(src, vdir, copy_function=os.link, ignore=(
                lambda d, ns: [n for n in ns if d == src and (n[0] == "."
                               or n[0] == "_" and "=" not in n)]))
        writer.parquet(str(vdir))
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    return vdir


def write_file_atomic(path: str | Path, text: str) -> None:
    """Replace the file at ``path`` with ``text`` in one rename, so no
    reader parses a truncated one; the temp is uuid-named (writers
    sharing one interleave bytes) and unlinked if the write fails."""
    tmp = _sibling(Path(path), f".tmp-{uuid.uuid4().hex[:8]}")
    try:
        tmp.write_text(text)
        tmp.replace(path)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise


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
            _step("install:claimed")    # read_log skips an empty entry
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

    Migration: if ``final`` is a real directory (an older layout, or a
    table written by path), it is renamed to ``<name>.v-legacy`` and
    linked there first, so it becomes the version this install
    replaces.  Readers of the path see ENOENT only between those two
    calls; a crash there leaves no path, which the next install or
    :func:`adopt_orphan` (run by every reader and rewriter) heals.  The first install into a table without
    a log adopts the versions the older layout kept — the replaced
    version and the target of the retired ``<name>.prev`` link — as
    its first entries, so they are reclaimed like any other.
    """
    legacy = _sibling(final, ".v-legacy")
    if final.exists() and not final.is_symlink():
        try:
            os.rename(final, legacy)
            _step("install:legacy-moved")
            os.symlink(legacy.name, final)
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
    not target, the log entries naming them, any ``<table>.ln-*`` temp
    link an install killed before its rename left, and the retired
    staged swap's leftovers: ``<table>.staging``, and a ``<table>.old``
    beside a live ``<table>`` (alone, :func:`adopt_orphan` adopts it).
    Call only when no reader may still hold an older version and no
    writer is staging one — same contract as Delta VACUUM with
    retention 0."""
    final = Path(path)
    current = _link_target(final)
    for p in final.parent.glob(f"{final.name}.ln-*"):
        p.unlink(missing_ok=True)
    shutil.rmtree(_sibling(final, ".staging"), ignore_errors=True)
    if os.path.lexists(final):
        shutil.rmtree(_sibling(final, ".old"), ignore_errors=True)
    entries = read_log(final)
    for f in _sibling(final, ".log").glob("*.json"):
        # an entry a killed install claimed but never wrote reads as none
        e = entries.get(int(f.stem)) if f.stem.isdigit() else None
        if e is None or e["dir"] != current:
            f.unlink(missing_ok=True)
    dropped = []
    for p in final.parent.glob(f"{final.name}.v-*"):
        if p.name != current:
            shutil.rmtree(p, ignore_errors=True)
            dropped.append(p.name)
    return dropped


def adopt_orphan(path: Path) -> None:
    """Rename back a table dir with no path beside it: ``<name>.old``,
    where the retired staged swap left a state table it crashed midway
    through, or a ``.v-legacy`` dir whose conversion crashed before its
    link.  That swap's never-promoted ``<name>.staging`` goes with the
    ``.old`` adoption, the one place it is known to be the swap's."""
    for orphan in (_sibling(path, ".old"), _sibling(path, ".v-legacy")):
        if not os.path.lexists(path) and (orphan / "_SUCCESS").exists():
            orphan.rename(path)
            if orphan.suffix == ".old":
                shutil.rmtree(_sibling(path, ".staging"), ignore_errors=True)


def read_state(spark: "SparkSession", path: Path) -> "DataFrame | None":
    """The table published at ``path``, or None if none ever was.  The
    link is resolved once, so the frame reads that version even after
    later installs, until retention reclaims it.  An orphaned table dir
    is adopted first (:func:`adopt_orphan`)."""
    adopt_orphan(path)
    target = path.resolve()
    if not (target / "_SUCCESS").exists():
        return None
    return spark.read.parquet(str(target))
