"""Generalized crash-injection harness (VERDICT r7 #6): three review
rounds in a row found crash-window/atomicity bugs in the staged-swap
and version-install protocols, each discovered by hand-simulating ONE
window.  Both protocols live in engine/publish.py, the only module
that knows the publish layout.  This harness kills them AFTER EVERY
externally visible step (via publish's ``_STEP_HOOK`` seam) — directly,
and through maintenance's ``compact`` on a plain partitioned dir — and
asserts the two healing invariants after each kill:

- **read healing**: a reader that runs the entry-recovery
  (``_restore_crashed_swap`` / symlink resolution) sees a COMPLETE
  state — the old one before the commit point, the new one after it,
  never a partial or missing one; the incremental tables' finalize
  marker moves atomically WITH the data.
- **write healing**: the next writer completes normally and leaves no
  protocol debris (``.old`` / ``.staging``).

The registration test enumerates every ``_atomic_swap_write`` /
``_install_version`` call site in the package by AST: a future call
site must be added to ``REGISTERED_SITES`` here — which is the
reviewer's cue that it inherits this harness's guarantees (the
protocol is what's crash-safe; a site is safe iff it calls the shared
protocol and recovers on entry).  The source guard keeps the publish
layout's sibling names and the seam inside engine/publish.py."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from iot_simulator_datalake_spark.engine import publish
from iot_simulator_datalake_spark.engine.maintenance import (
    compact, table_file_stats)
from iot_simulator_datalake_spark.engine.publish import (
    _atomic_swap_write, _install_version, _restore_crashed_swap)

from conftest import write_iot_events

PKG = pathlib.Path(publish.__file__).resolve().parent.parent

SWAP_STEPS = ["swap:restored", "swap:stage-cleared", "swap:staged",
              "swap:finalized", "swap:old-cleared", "swap:live-moved",
              "swap:promoted", "swap:old-dropped"]
#: steps strictly before the commit point (tmp.rename(path)): a crash
#: there must heal to the OLD state; at/after it, to the NEW state.
SWAP_PRE_COMMIT = set(SWAP_STEPS[:6])

INSTALL_STEPS = ["install:legacy-converted", "install:adopted",
                 "install:logged", "install:tmp-linked",
                 "install:replaced", "install:reclaimed"]


class SimulatedCrash(RuntimeError):
    pass


@pytest.fixture
def kill_at():
    """Install a hook that raises at the named step; always uninstall."""
    def arm(step: str):
        def hook(name: str):
            if name == step:
                raise SimulatedCrash(step)
        publish._STEP_HOOK = hook
    yield arm
    publish._STEP_HOOK = None


def _rows(spark, path) -> set:
    return {tuple(r) for r in spark.read.parquet(str(path)).collect()}


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_swap_kill_at_every_step(spark, tmp_path, step, kill_at):
    path = tmp_path / "state"
    old = spark.createDataFrame([(1, "a")], "k int, v string")
    new = spark.createDataFrame([(2, "b")], "k int, v string")
    _atomic_swap_write(old, path)

    kill_at(step)
    with pytest.raises(SimulatedCrash):
        _atomic_swap_write(new, path,
                           finalize=lambda d: (d / "_epoch").touch())
    publish._STEP_HOOK = None

    # -- read healing: entry recovery yields ONE complete state
    _restore_crashed_swap(path)
    assert (path / "_SUCCESS").exists(), f"incomplete state after {step}"
    got = _rows(spark, path)
    want = {(1, "a")} if step in SWAP_PRE_COMMIT else {(2, "b")}
    assert got == want, f"crash after {step}: got {got}"
    # the finalize marker must be visible IFF the new data is (the
    # r7 incremental-MV invariant: _epoch swaps atomically WITH data)
    assert (path / "_epoch").exists() == (got == {(2, "b")})

    # -- write healing: next writer completes and clears all debris
    nxt = spark.createDataFrame([(3, "c")], "k int, v string")
    _atomic_swap_write(nxt, path)
    assert _rows(spark, path) == {(3, "c")}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["state"]


def test_swap_siblings_are_per_table(spark, tmp_path, kill_at):
    """Tables sharing a stem (``s.a``, ``s.c``) must not share swap
    siblings: with ``with_suffix`` names both used ``s.old``, so a
    reader of the never-written ``s.c`` adopted ``s.a``'s crashed-swap
    copy and ``s.a``'s own recovery then found nothing."""
    a, c = tmp_path / "s.a", tmp_path / "s.c"
    _atomic_swap_write(spark.createDataFrame([(1, "A")], "k int, v string"),
                       a)
    kill_at("swap:live-moved")
    with pytest.raises(SimulatedCrash):
        _atomic_swap_write(
            spark.createDataFrame([(2, "B")], "k int, v string"), a)
    publish._STEP_HOOK = None

    assert publish.read_state(spark, c) is None
    assert not c.exists()
    assert {tuple(r) for r in publish.read_state(spark, a).collect()} \
        == {(1, "A")}


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_compact_kill_at_every_step(spark, tmp_path, step, kill_at):
    """Maintenance rewrites a plain dir through the shared swap: a kill
    at any step heals to the uncompacted layout before the commit point
    and to the compacted one after it, partition columns intact."""
    from pyspark.sql import functions as F

    path = tmp_path / "ptbl"
    df = spark.range(400).select(
        (F.col("id") % 2).cast("string").alias("dt"), F.col("id"))
    for _ in range(3):
        df.repartition(3).write.mode("append").partitionBy("dt") \
          .parquet(str(path))
    want = _rows(spark, path)
    n_before = table_file_stats(path)[0]

    kill_at(step)
    with pytest.raises(SimulatedCrash):
        compact(spark, path, target_file_bytes=1 << 30)
    publish._STEP_HOOK = None

    # -- read healing: old layout before the commit point, new after
    _restore_crashed_swap(path)
    n_files = table_file_stats(path)[0]
    assert n_files == (n_before if step in SWAP_PRE_COMMIT else 2), step
    assert _rows(spark, path) == want
    assert sorted(p.name for p in path.glob("dt=*")) == ["dt=0", "dt=1"]

    # -- write healing: one file per partition value, no debris
    assert compact(spark, path, target_file_bytes=1 << 30) == 2
    assert _rows(spark, path) == want
    assert sorted(p.name for p in tmp_path.iterdir()) == ["ptbl"]


@pytest.mark.parametrize("step", INSTALL_STEPS)
@pytest.mark.parametrize("legacy_start", [False, True])
def test_install_kill_at_every_step(tmp_path, step, legacy_start, kill_at):
    """Version install under a kill at every step, with the default
    retention depth of 2: the path resolves to a complete version, the
    log names no missing dir, the replaced version and the new one both
    survive the kill, and the next install leaves exactly the versions
    its log retains — the newest two entries plus the version it
    replaced — plus the killed install's dir when it was never logged
    (a never-logged dir is indistinguishable from a concurrent
    writer's staged one, so no install may reclaim it)."""
    final = tmp_path / "tbl"

    def version(tag: str):
        d = tmp_path / f"tbl.v-{tag}"
        d.mkdir()
        (d / "data.txt").write_text(tag)
        return d

    def logged() -> list[str]:
        log = publish.read_log(final)
        return [log[n]["dir"] for n in sorted(log)]

    if legacy_start:
        # pre-symlink layout: final is a REAL directory
        final.mkdir()
        (final / "data.txt").write_text("v1")
        v1 = "tbl.v-legacy"         # the name the conversion gives it
    else:
        # two installs, so the killed one has a two-back version to reclaim
        _install_version(version("v0"), final)
        _install_version(version("v1"), final)
        v1 = "tbl.v-v1"

    v2 = version("v2")
    kill_at(step)
    with pytest.raises(SimulatedCrash):
        _install_version(v2, final)
    publish._STEP_HOOK = None
    at = INSTALL_STEPS.index(step)
    committed = at >= INSTALL_STEPS.index("install:replaced")
    is_logged = at >= INSTALL_STEPS.index("install:logged")

    # -- read healing: if the path resolves at all it must resolve to
    # a COMPLETE version (the documented exception: the one-time
    # legacy-dir conversion has a brief ENOENT window)
    if final.exists():
        assert (final / "data.txt").read_text() == \
            ("v2" if committed else "v1")
    else:
        assert legacy_start and not committed
    # -- the log names no missing dir, and names v2 once it is logged
    assert all((tmp_path / d).is_dir() for d in logged())
    assert ("tbl.v-v2" in logged()) == is_logged
    # -- no data loss, ever: the replaced and the new version survive
    holders = [d for d in (final, *tmp_path.glob("tbl.v-*"))
               if d.is_dir() and not d.is_symlink()]
    assert "v1" in {(d / "data.txt").read_text() for d in holders}
    assert (v2 / "data.txt").read_text() == "v2"

    # -- write healing: the next install wins regardless of debris and
    # reclaims down to the retained logged versions (+ v2 if never
    # logged)
    _install_version(version("v3"), final)
    assert (final / "data.txt").read_text() == "v3"
    replaced = "tbl.v-v2" if committed else v1
    newest = {"tbl.v-v3", "tbl.v-v2" if is_logged else v1}
    assert set(logged()) == newest | {replaced}
    left = {p.name for p in tmp_path.glob("tbl.v-*")}
    assert left == set(logged()) | (set() if is_logged else {"tbl.v-v2"})


def test_streaming_sink_crash_windows_exactly_once(spark, tmp_path):
    """Streaming-runner crash injection (VERDICT r10 #6).  The parquet
    streaming sink's protocol per micro-batch is: task files written →
    sink metadata log (_spark_metadata/N) committed → checkpoint
    commit marker (commits/N) written.  A crash leaves one of two
    externally visible windows, both simulated here by constructing
    the exact on-disk state a kill would leave:

    - **after sink commit, before checkpoint commit** — delete
      commits/N and restart: Spark replays batch N from offsets/N, the
      FileStreamSink sees the batchId already in its metadata log and
      skips the rewrite → no duplicates on the two-wave fixture.
    - **after task files, before sink commit** — a dead task attempt's
      orphan parquet file sits in the output dir but NOT in
      _spark_metadata: the metadata-log-governed read must not see it.
    """
    import shutil
    from datetime import datetime

    from iot_simulator_datalake_spark.streaming.runner import (
        materialize_streaming_table)

    landing = tmp_path / "landing"
    out, ck = tmp_path / "bronze", tmp_path / "ck"
    write_iot_events(landing, n_events=200, n_files=2, seed=31)
    schema = spark.read.json(str(landing)).schema

    def drain():
        sdf = spark.readStream.schema(schema).json(str(landing))
        return materialize_streaming_table(spark, sdf, out, ck)

    assert drain().count() == 200

    # -- window 1: checkpoint commit marker lost after the sink commit
    commits = sorted((ck / "commits").glob("[0-9]*"),
                     key=lambda p: int(p.name))
    assert commits, "checkpoint produced no commit markers"
    commits[-1].unlink()
    # the local filesystem's checksum sidecar must die with the marker,
    # or the replay's re-write of commits/N trips over the stale .crc
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    write_iot_events(landing, n_events=100, n_files=1, seed=32,
                     start=datetime(2024, 6, 1))
    healed = drain()
    assert healed.count() == 300, "batch replay duplicated wave 1"
    from pyspark.sql import functions as F
    dupes = (healed.groupBy("device_id", "timestamp", "value",
                            "sensor_type").count()
             .filter(F.col("count") > 1).count())
    assert dupes == 0

    # -- window 2: dead task attempt's orphan file, never sink-committed
    committed = sorted(out.glob("part-*.parquet"))
    orphan = out / "part-99999-dead-task-attempt.parquet"
    shutil.copy(committed[0], orphan)
    seen = spark.read.schema(schema).parquet(str(out))
    assert seen.count() == 300, \
        "reader saw a file the sink metadata log never committed"

    # -- and the next drain still works over the debris (write healing)
    write_iot_events(landing, n_events=50, n_files=1, seed=33,
                     start=datetime(2024, 7, 1))
    assert drain().count() == 350


#: every (file, enclosing function) that invokes a swap/install
#: protocol.  A NEW call site fails the registration test until added
#: here — the cue that it must (a) call the SHARED protocol, never a
#: copy, and (b) run the entry recovery before reading state.
REGISTERED_SITES = {
    ("scd.py", "apply", "_atomic_swap_write"),        # ApplyChanges
    ("scd.py", "_write", "_atomic_swap_write"),       # SnapshotTable
    ("incremental.py", "_write_state", "_atomic_swap_write"),
    ("runner.py", "_materialize", "_install_version"),
    ("runner.py", "run", "_install_version"),         # view fallback
    ("runner.py", "backfill", "_install_version"),
    ("maintenance.py", "_atomic_rewrite", "_install_version"),
    ("snapshots.py", "write_snapshot", "_install_version"),
    ("maintenance.py", "_atomic_rewrite", "_atomic_swap_write"),
}


def test_every_call_site_is_registered():
    found = set()
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        funcs = [(n.name, n.lineno,
                  max(getattr(n, "end_lineno", n.lineno), n.lineno))
                 for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]

        def enc(line):
            best = None
            for name, a, b in funcs:
                if a <= line <= b and (best is None or a > best[1]):
                    best = (name, a)
            return best[0] if best else "<module>"

        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            fname = (f.id if isinstance(f, ast.Name)
                     else f.attr if isinstance(f, ast.Attribute) else None)
            if fname in ("_atomic_swap_write", "_install_version"):
                found.add((p.name, enc(n.lineno), fname))
    assert found == REGISTERED_SITES, (
        f"unregistered swap/install call sites: "
        f"{found - REGISTERED_SITES} / removed: "
        f"{REGISTERED_SITES - found} — register them here AND make sure "
        f"they use the shared protocol with entry recovery")


#: the publish layout's sibling suffixes (``<name><suffix>``), current
#: and retired
SIBLING_SUFFIXES = (".staging", ".old", ".log", ".prev", ".compacting",
                    ".precompact")
SIBLING_PREFIXES = (".v-", ".ln-")


def test_publish_layout_has_one_home():
    """Only engine/publish.py names publish siblings or holds the crash
    seam: a second module that builds ``<name>.old`` or ``<name>.v-…``
    itself is a second copy of the protocol, outside this harness."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p == pathlib.Path(publish.__file__).resolve():
            continue
        text = p.read_text()
        consts = {n.value for n in ast.walk(ast.parse(text))
                  if isinstance(n, ast.Constant) and isinstance(n.value, str)}
        named = sorted(c for c in consts if c in SIBLING_SUFFIXES
                       or c.startswith(SIBLING_PREFIXES))
        if named or "_STEP_HOOK" in text:
            offenders.append((str(p.relative_to(PKG)), named))
    assert offenders == []
