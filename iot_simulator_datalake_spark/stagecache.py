"""Stage-once cache for derived physical layouts (partitioned copies,
skipping manifests, serving indexes): build once per source
fingerprint under the system temp dir, reuse across invocations.

Why it exists (ADVICE r4): per-call ``mkdtemp`` staging leaked disk
under bench warmup + timed passes + oracle sweeps AND let the staging
WRITE dominate the timed read path the queries are meant to measure.
Production semantics match: OPTIMIZE/ZORDER/ingest/index-build is a
one-time layout cost, the measured query is the scan that serves from
it.
"""

from __future__ import annotations

import hashlib
import shutil
import tempfile
import uuid
from pathlib import Path
from typing import Callable

_ROOT = "lake_stage"


def source_digest(sf_dir: str, table: str) -> str:
    """Fingerprint of one driver table's files (name+size+mtime) — the
    staging-cache key, so a regenerated testdata dir at the same path
    invalidates the cache instead of serving stale layouts."""
    root = Path(sf_dir) / f"{table}.parquet"
    h = hashlib.md5(str(Path(sf_dir).resolve()).encode())
    files = sorted(p for p in root.rglob("*") if p.is_file()) \
        if root.is_dir() else [root]
    for p in files:
        st = p.stat()
        h.update(f"|{p.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _hash_codeobj(h, code, seen: set) -> None:
    """Deterministic digest of one code object.  co_consts must NOT be
    hashed via one big repr(): comprehensions and lambdas put nested
    CODE OBJECTS in co_consts, and ``repr(code)`` embeds the object's
    memory address — which made the digest differ on every process, so
    the cache never hit across invocations and each run GC'd the
    previous generation (measured: the same builder digested 6de5221d
    then 0f11cf8a in two consecutive runs).  Recurse into nested code
    objects instead; frozenset consts (compiled ``in {…}`` tests) are
    hashed in sorted order because their iteration order follows the
    per-process str hash seed."""
    if code in seen:
        return
    seen.add(code)
    h.update(code.co_code)
    h.update(repr(code.co_names).encode())
    for c in code.co_consts:
        if hasattr(c, "co_code"):
            _hash_codeobj(h, c, seen)
        else:
            h.update(_canon(c).encode())


def _canon(c) -> str:
    """Order-canonical repr of one const.  Recursive on purpose: a
    frozenset nested inside a tuple const (e.g. a default-arg pair
    ``(("a","b"), frozenset({...}))``) would fall into plain repr(),
    whose element order follows the per-process hash seed — the same
    cross-process digest instability the direct-frozenset branch fixes,
    one nesting level down."""
    if isinstance(c, frozenset):
        return f"frozenset([{','.join(sorted(_canon(x) for x in c))}])"
    if isinstance(c, tuple):
        return f"({','.join(_canon(x) for x in c)})"
    return repr(c)


def _hash_code(h, fn: Callable, seen: set) -> None:
    _hash_codeobj(h, fn.__code__, seen)
    # recurse into closure-captured FUNCTIONS: a builder typically
    # delegates to helpers it closes over (cluster, build_bloom_
    # manifest, …) whose bytecode is the actual recipe
    for cell in (fn.__closure__ or ()):
        try:
            v = cell.cell_contents
        except ValueError:          # empty cell
            continue
        if callable(v) and hasattr(v, "__code__"):
            _hash_code(h, v, seen)
        elif isinstance(v, (int, float, str, bytes, bool, tuple,
                            frozenset, type(None))):
            # captured CONFIG SCALARS are part of the recipe: a builder
            # closing over e.g. target_file_bytes must re-stage when
            # that value changes, not keep serving the stale layout.
            # _canon, not repr: a captured frozenset (or one nested in
            # a tuple) iterates in hash-seed order.
            h.update(_canon(v).encode())
        else:
            h.update(repr(type(v)).encode())


def _recipe_digest(build: Callable) -> str:
    """Fingerprint of the BUILDER (bytecode + constants, recursing into
    closure-captured helper functions), so editing a layout recipe —
    clustering granularity, bloom sizing, a new manifest step —
    auto-invalidates the cache instead of relying on a hand-bumped tag.

    Captured simple immutable values (int/float/str/bytes/bool/tuple/
    frozenset/None) hash by VALUE, so config scalars invalidate too.

    HONEST LIMIT: helpers reached via MODULE imports (co_names holds
    only the NAME), module-level constants, and captured MUTABLE
    values (dict/list/object — hashed by type only) are NOT covered — editing
    e.g. engine/skipping's bloom hashing still requires bumping the
    caller's tag (the round-5 v1→v2 and round-7 v2→v3 bloom bumps are
    that discipline in action)."""
    h = hashlib.md5()
    _hash_code(h, build, set())
    return h.hexdigest()[:8]


def stage_root() -> Path:
    """``<tmp>/lake_stage``, home of every staged and scratch dir."""
    return Path(tempfile.gettempdir()) / _ROOT


def sweep_dead_pids(base: Path, pattern: str, keep: Path) -> None:
    """Remove ``base/pattern`` dirs named ``…pid<N>`` whose process is
    gone: every invocation is a new process, so without this each run
    strands its per-pid dirs — the cross-invocation disk leak this
    module exists to stop, re-created one pid at a time.  A LIVE pid
    (including a reused one) has /proc/<pid> and is never touched;
    non-Linux (no /proc) skips the sweep."""
    if not Path("/proc").is_dir():
        return
    for p in base.glob(pattern):
        pid = p.name.rsplit("pid", 1)[-1]
        if (p != keep and pid.isdigit()
                and not Path(f"/proc/{pid}").exists()):
            shutil.rmtree(p, ignore_errors=True)


def scratch_dir(sf_dir: str, table: str, tag: str) -> Path:
    """Deterministic-per-(source, process) scratch directory for sinks
    that OVERWRITE on every invocation (runtime-filter demos, stream
    drains).  Reuse within a process stops the old per-call ``mkdtemp``
    leak (bench warm + 3 timed passes = one process).  It lives under
    the process's scratch root (``session.scratch_root``), so it goes
    when the process does and concurrent sessions never share it."""
    from .session import scratch_root   # session imports this module
    d = scratch_root() / f"{tag}-{source_digest(sf_dir, table)}"
    d.mkdir(exist_ok=True)
    return d


def stage_once(sf_dir: str, table: str, tag: str,
               build: Callable[[Path], None]) -> Path:
    """Build a derived layout ONCE per (source, recipe, tag) and reuse
    it.

    ``build`` receives a fresh directory and must write the complete
    layout (parquet + manifests) into it.  Publication is atomic
    (build into a tmp sibling, rename into place); a lost rename race
    defers to the winner's identical layout.  The ``_STAGED`` marker
    gates readers — an underscore name, so Spark's parquet listing
    ignores it like ``_SUCCESS``.  A build that raises cleans up its
    tmp sibling (a killed PROCESS can still orphan one; orphans are
    never read — no marker — and carry .tmp- names for manual sweeps).
    """
    src_digest = source_digest(sf_dir, table)  # stats every source
    #                          file — compute once, reuse for the GC
    dest = stage_root() / f"{tag}-{src_digest}-r{_recipe_digest(build)}"
    if (dest / "_STAGED").exists():
        return dest
    dest.parent.mkdir(parents=True, exist_ok=True)
    tmp = dest.with_name(f"{dest.name}.tmp-{uuid.uuid4().hex[:8]}")
    try:
        build(tmp)
        (tmp / "_STAGED").write_text("ok\n")
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        tmp.rename(dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not (dest / "_STAGED").exists():
            raise  # not a lost race — surface the real failure
    # GC superseded generations of the SAME (tag, source): a recipe
    # edit otherwise strands a full multi-table-sized layout forever —
    # the unbounded leak this module was built to stop.  Scoped to the
    # source digest on purpose: the same tag staged from OTHER source
    # dirs (sf0.001 vs sf0.01 vs replicas) is concurrently live, and a
    # tag-wide sweep deleted a sibling SF's layout out from under its
    # reader (measured: FileNotFound mid-oracle-sweep).  Same source +
    # same tag + different recipe is superseded by definition.
    # ``.tmp-`` siblings are EXCLUDED even though they carry _STAGED
    # (the marker is written before the rename): they are another
    # process's fully-built layout mid-publish, not a superseded
    # generation — GC'ing one loses that process's build.
    prefix = f"{tag}-{src_digest}-r"
    for p in dest.parent.glob(f"{prefix}*"):
        if (p != dest and ".tmp-" not in p.name
                and (p / "_STAGED").exists()):
            shutil.rmtree(p, ignore_errors=True)
    return dest
