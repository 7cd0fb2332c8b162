"""Generalized crash-injection harness (VERDICT r7 #6): three review
rounds in a row found crash-window/atomicity bugs in the table
publication protocols, each discovered by hand-simulating ONE window.
Every table rewrite in the package now goes through one protocol, the
version install of engine/publish.py (``write_version`` +
``_install_version``), the only module that knows the publish layout.
This harness kills it AFTER EVERY externally visible step (via
publish's ``_STEP_HOOK`` seam) — directly, and through the writers that
use it: ``ApplyChanges.apply``, ``IncrementalAggTable.refresh`` and
maintenance's ``compact`` on a plain partitioned dir — and asserts the
two healing invariants after each kill:

- **read healing**: a reader of the table path sees a COMPLETE state —
  the old one before the commit point (``install:replaced``), the new
  one from it on, never a partial one, and a missing one only in the
  one-time conversion of a plain dir (``install:legacy-moved``) until
  the next reader or rewriter renames the dir back; the incremental
  tables' ``_epoch`` marker moves atomically WITH the data.
- **write healing**: the next writer completes normally, and
  ``vacuum_table_versions`` then leaves no protocol debris.

The registration test enumerates every ``_install_version`` call site
in the package by AST: a future call site must be added to
``REGISTERED_SITES`` here — the cue to check that it inherits this
harness's guarantees (the protocol is what's crash-safe;
a site is safe iff it installs a complete version dir through it).
The source guards keep the publish layout's sibling names, the seam,
version-dir creation and file renames inside engine/publish.py, and
the retired staged swap out of the package."""

from __future__ import annotations

import ast
import inspect
import pathlib
import shutil

import pytest

from iot_simulator_datalake_spark.engine import publish
from iot_simulator_datalake_spark.engine.incremental import (
    IncrementalAggTable, mergeable_metrics)
from iot_simulator_datalake_spark.engine.maintenance import (
    compact, table_file_stats)
from iot_simulator_datalake_spark.engine.publish import (
    _install_version, vacuum_table_versions)
from iot_simulator_datalake_spark.operators.scd import ApplyChanges

from conftest import write_iot_events

PKG = pathlib.Path(publish.__file__).resolve().parent.parent

INSTALL_STEPS = ["install:legacy-moved", "install:legacy-converted",
                 "install:adopted", "install:claimed", "install:logged",
                 "install:tmp-linked", "install:replaced",
                 "install:reclaimed"]
#: an install into a linked table converts nothing, so it never
#: reaches the step between the plain dir's rename and its link
LINKED_STEPS = [s for s in INSTALL_STEPS if s != "install:legacy-moved"]
#: (legacy_start, step): every step an install from either layout
#: reaches
LAYOUT_STEPS = ([(False, s) for s in LINKED_STEPS]
                + [(True, s) for s in INSTALL_STEPS])


def _committed(step: str) -> bool:
    """A kill at or after ``install:replaced`` lands after the commit
    point (the link's rename)."""
    return INSTALL_STEPS.index(step) >= INSTALL_STEPS.index("install:replaced")


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


def _assert_vacuumed(path: pathlib.Path) -> None:
    """After ``vacuum_table_versions`` the table is its link, its log
    and one version dir, nothing else, and the log is the one entry
    naming that version (a claimed-but-unwritten entry goes too)."""
    vacuum_table_versions(path)
    names = sorted(p.name for p in path.parent.iterdir())
    assert names[:2] == [path.name, f"{path.name}.log"], names
    assert len(names) == 3 and names[2].startswith(f"{path.name}.v-"), names
    entries = list((path.parent / names[1]).iterdir())
    assert len(entries) == 1, entries
    assert [e["dir"] for e in publish.read_log(path).values()] == [names[2]]


@pytest.mark.parametrize("step", LINKED_STEPS)
def test_apply_changes_kill_at_every_step(spark, tmp_path, step, kill_at):
    """ApplyChanges installs each fold as a new version: a kill at any
    step leaves the previous state before the commit point and the new
    one from it on, and the next apply (the stream's redelivery of the
    killed batch) folds the full state."""
    path = tmp_path / "state"
    ac = ApplyChanges(spark, path, key="k", order_col="ts")

    def batch(ts, *keys):
        return spark.createDataFrame([(k, ts, False) for k in keys],
                                     "k int, ts int, _is_deleted boolean")

    ac.apply(batch(10, 1, 2))
    ac.apply(batch(20, 2, 3))       # two installs: one to reclaim
    kill_at(step)
    with pytest.raises(SimulatedCrash):
        ac.apply(batch(30, 1, 4))
    publish._STEP_HOOK = None

    # -- read healing
    got = {(r["k"], r["ts"]) for r in ac.read().collect()}
    before = {(1, 10), (2, 20), (3, 20)}
    after = {(1, 30), (2, 20), (3, 20), (4, 30)}
    assert got == (after if _committed(step) else before), step

    # -- write healing: the redelivered batch plus the next one
    ac.apply(batch(30, 1, 4))
    ac.apply(batch(40, 5))
    assert {(r["k"], r["ts"]) for r in ac.read().collect()} == \
        after | {(5, 40)}
    _assert_vacuumed(path)


@pytest.mark.parametrize("legacy_start, step", LAYOUT_STEPS)
def test_incremental_refresh_kill_at_every_step(spark, tmp_path, step,
                                                legacy_start, kill_at):
    """IncrementalAggTable writes ``_epoch`` into the version dir before
    its install: after a kill at any step the marker is visible iff the
    new partials are, so the stream's redelivery of the killed epoch
    folds it exactly once.  ``legacy_start`` begins from the layout the
    retired staged swap wrote — the state and its ``_epoch`` in a plain
    dir at the path — which the killed refresh's install converts."""
    path = tmp_path / "state"
    t = IncrementalAggTable(spark, path, keys=["k"],
                            metrics=mergeable_metrics("v"))

    def batch(*rows):
        return spark.createDataFrame(list(rows), "k string, v double")

    if legacy_start:
        seed = IncrementalAggTable(spark, tmp_path / "seed" / "state",
                                   keys=["k"], metrics=mergeable_metrics("v"))
        seed.refresh(batch(("a", 1.0), ("b", 2.0)), epoch_id=0)
        seed.refresh(batch(("a", 3.0)), epoch_id=1)
        shutil.copytree(seed.path.resolve(), path)
        shutil.rmtree(tmp_path / "seed")
        assert not path.is_symlink() and t._last_epoch() == 1
    else:
        t.refresh(batch(("a", 1.0), ("b", 2.0)), epoch_id=0)
        t.refresh(batch(("a", 3.0)), epoch_id=1)
    kill_at(step)
    with pytest.raises(SimulatedCrash):
        t.refresh(batch(("a", 5.0), ("c", 7.0)), epoch_id=2)
    publish._STEP_HOOK = None

    # -- read healing: the marker moves atomically WITH the data (read
    # first: a kill between the plain dir's rename and its link leaves
    # no path until a reader renames the dir back)
    got = {r["k"]: r["n"] for r in t.read().collect()}
    if _committed(step):
        assert (got, t._last_epoch()) == ({"a": 3, "b": 1, "c": 1}, 2)
    else:
        assert (got, t._last_epoch()) == ({"a": 2, "b": 1}, 1)

    # -- write healing: redelivering epoch 2 folds it exactly once
    t.refresh(batch(("a", 5.0), ("c", 7.0)), epoch_id=2)
    got = {r["k"]: (r["n"], float(r["sum"])) for r in t.read().collect()}
    assert got == {"a": (3, 9.0), "b": (1, 2.0), "c": (1, 7.0)}
    assert t._last_epoch() == 2
    _assert_vacuumed(path)
    assert (path / "_epoch").read_text() == "2"


@pytest.mark.parametrize("step", INSTALL_STEPS)
def test_compact_kill_at_every_step(spark, tmp_path, step, kill_at):
    """Maintenance rewrites a plain partitioned dir as a logged version:
    the first install adopts the dir as the version it replaces, so a
    kill at any step leaves the uncompacted layout at the path before
    the commit point and the compacted one from it on, partition
    columns intact — except between the dir's rename and its link,
    where the path is missing until the next reader or rewrite renames
    the dir back."""
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

    # -- read healing: old layout before the commit point, new from it on
    if step == "install:legacy-moved":
        assert not path.exists()
        assert _rows(spark, tmp_path / "ptbl.v-legacy") == want
    else:
        n_files = table_file_stats(path)[0]
        assert n_files == (2 if _committed(step) else n_before), step
        assert _rows(spark, path) == want
        assert sorted(p.name for p in path.glob("dt=*")) == ["dt=0", "dt=1"]

    # -- write healing: one file per partition value, no debris
    assert compact(spark, path, target_file_bytes=1 << 30) == 2
    assert _rows(spark, path) == want
    _assert_vacuumed(path)
    assert _rows(spark, path) == want


@pytest.mark.parametrize("orphan", [".old", ".v-legacy"])
def test_adoption_is_per_table(spark, tmp_path, orphan):
    """``read_state`` renames back a table dir with no path beside it —
    the retired staged swap's mid-swap ``.old``, or a ``.v-legacy`` a
    crash left between the legacy conversion's rename and its link —
    and only for its own table: with ``with_suffix`` names ``s.a`` and
    ``s.c`` would both use ``s.old``, so a reader of the never-written
    ``s.c`` would adopt ``s.a``'s copy and ``s.a`` would find nothing."""
    a, c = tmp_path / "s.a", tmp_path / "s.c"
    spark.createDataFrame([(1, "A")], "k int, v string") \
        .write.parquet(str(tmp_path / f"s.a{orphan}"))

    assert publish.read_state(spark, c) is None
    assert not c.exists()
    assert {tuple(r) for r in publish.read_state(spark, a).collect()} \
        == {(1, "A")}
    assert not a.is_symlink() and sorted(
        p.name for p in tmp_path.iterdir()) == ["s.a"]


@pytest.mark.parametrize("legacy_start, step", LAYOUT_STEPS)
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
    # -- the full cleanup leaves the link, its log and v3: a kill at
    # install:tmp-linked left a temp link, which vacuum removes too
    vacuum_table_versions(final)
    assert sorted(p.name for p in tmp_path.iterdir()) == \
        ["tbl", "tbl.log", "tbl.v-v3"]
    assert [p.name for p in (tmp_path / "tbl.log").iterdir()] == \
        [f"{publish.read_log(final).popitem()[0]:08d}.json"]


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


#: every (file, enclosing function) that installs a version.  A NEW
#: call site fails the registration test until added here — the cue
#: that it must install a complete version dir (``write_version``)
#: through the SHARED protocol, never a copy.
REGISTERED_SITES = {
    ("scd.py", "apply", "_install_version"),          # ApplyChanges
    ("scd.py", "_write", "_install_version"),         # SnapshotTable
    ("incremental.py", "_write_state", "_install_version"),
    ("runner.py", "_materialize", "_install_version"),
    ("runner.py", "run", "_install_version"),   # atomic_publish deferral
    ("runner.py", "backfill", "_install_version"),
    ("maintenance.py", "_atomic_rewrite", "_install_version"),
    ("snapshots.py", "write_snapshot", "_install_version"),
}


def _calls(tree):
    """``(call node, called name)`` for every call in ``tree``."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            f = n.func
            yield n, (f.id if isinstance(f, ast.Name)
                      else f.attr if isinstance(f, ast.Attribute) else None)


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

        for n, fname in _calls(tree):
            if fname == "_install_version":
                found.add((p.name, enc(n.lineno), fname))
    assert found == REGISTERED_SITES, (
        f"unregistered install call sites: "
        f"{found - REGISTERED_SITES} / removed: "
        f"{REGISTERED_SITES - found} — register them here AND make sure "
        f"they install a complete version through the shared protocol")


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


def test_publish_writes_every_published_file():
    """Only engine/publish.py creates version dirs and renames files
    into place: no other module imports ``new_version_dir`` or builds a
    ``.tmp`` file name (stagecache's ``.tmp-`` staged dir, promoted by
    its own marker, is the one exception), and nothing under engine/
    sets a session conf — a write's option belongs on that write."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p == pathlib.Path(publish.__file__).resolve():
            continue
        rel = str(p.relative_to(PKG))
        tree = ast.parse(p.read_text())
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and any(
                    a.name == "new_version_dir" for a in n.names):
                offenders.append((rel, "new_version_dir"))
            if (rel != "stagecache.py" and isinstance(n, ast.Constant)
                    and isinstance(n.value, str) and ".tmp" in n.value):
                offenders.append((rel, n.value))
        if rel.startswith("engine/"):
            for n, fname in _calls(tree):
                if (fname == "set" and isinstance(n.func, ast.Attribute)
                        and isinstance(n.func.value, ast.Attribute)
                        and n.func.value.attr == "conf"):
                    offenders.append((rel, "conf.set"))
    assert offenders == []


def test_one_implementation_per_operator():
    """Each operator has one implementation, the one the queries run:
    one ``applyInPandasWithState`` call (``stateful.running_totals``,
    whose total keeps the value column's kind) and no
    ``transformWithStateInPandas`` twin; one ``events.ts`` ns→µs
    conversion (``queries.normalize_ts``); and one bloom manifest
    format, so ``build_bloom_manifest`` takes no sizing options."""
    from iot_simulator_datalake_spark.engine.skipping import (
        build_bloom_manifest)
    stateful_calls, twins, ts_convs = [], [], []
    for p in sorted(PKG.rglob("*.py")):
        rel, text = str(p.relative_to(PKG)), p.read_text()
        stateful_calls += [rel for _n, f in _calls(ast.parse(text))
                           if f == "applyInPandasWithState"]
        twins += [rel] * text.count("transformWithStateInPandas")
        ts_convs += [rel] * text.count("ts div 1000")
    assert stateful_calls == ["streaming/stateful.py"]
    assert twins == []
    assert ts_convs == ["queries.py"]
    assert list(inspect.signature(build_bloom_manifest).parameters) == \
        ["path", "cols"]


def test_one_publication_protocol():
    """The staged swap is retired: no module names it or its entry
    recovery, and nothing hands a ``finalize=`` hook to engine.publish —
    a marker that must become visible with the data is written into
    the version dir before its install."""
    publish_funcs = {n for n, v in vars(publish).items()
                     if inspect.isfunction(v)
                     and v.__module__ == publish.__name__}
    assert not any("finalize" in inspect.signature(getattr(publish, n))
                   .parameters for n in publish_funcs)
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        text = p.read_text()
        for name in ("_atomic_swap_write", "_restore_crashed_swap"):
            if name in text:
                offenders.append((p.name, name))
        for n, fname in _calls(ast.parse(text)):
            if fname in publish_funcs and any(
                    k.arg == "finalize" for k in n.keywords):
                offenders.append((p.name, f"{fname}(finalize=...)"))
    assert offenders == []
