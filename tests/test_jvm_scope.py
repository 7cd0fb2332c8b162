"""JVM-scoped state: the construction memo and the scratch root
(``session.memo`` / ``session.scratch``) live exactly as long as the py4j
gateway they were made under, and nothing else in the package keeps
process-global memos or bare ``mkdtemp`` dirs.

The two Spark tests run in their own interpreter with a private
``TMPDIR``: one restarts the gateway, the other inspects what a process
leaves behind after it exits — neither can share the conftest session.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from test_retrieval import SF

import iot_simulator_datalake_spark as pkg
from iot_simulator_datalake_spark import session

ROOT = Path(__file__).resolve().parents[1]
PKG_DIR = Path(pkg.__file__).parent

#: every registered query whose construction makes a scratch dir
SCRATCH_QUERIES = (
    "engine_pipeline_fact", "engine_pipeline_fact_streaming",
    "simulator_streaming_rollup", "orc_roundtrip_rollup",
    "csv_roundtrip_rollup", "sql_project_pipeline",
    "incremental_rollup_equals_batch", "apply_changes_equals_batch",
    "incremental_join_rollup_equals_batch", "dbt_snapshot_equals_batch",
    "incremental_bigram_lm_equals_batch", "engine_curation_pipeline",
    "engine_corpus_pipeline", "streaming_interval_join_left",
    "streaming_apply_changes", "streaming_incremental_join_rollup",
    "streaming_quantile_sketch", "streaming_late_data_drop",
    "snapshot_changes",
)
#: queries whose sinks go to ``stagecache.scratch_dir`` (no mkdtemp)
SCRATCH_DIR_QUERIES = (
    "runtime_bloom_filter_join", "streaming_topk_users_hourly",
    "streaming_dedup_rollup_rocksdb",
)


def _run(prog: str, tmp_path: Path) -> dict:
    """Run ``prog`` in a fresh interpreter with TMPDIR = tmp_path/tmp;
    its last stdout line is JSON."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_DRIVER_MEM="2g",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"),
               PYTHONPATH=os.pathsep.join(
                   [str(ROOT)] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]))
    out = subprocess.run([sys.executable, "-c", prog], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=1200)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_queries_rebuild_after_gateway_restart(tmp_path):
    """Memoized Columns are handles into the JVM that built them: after
    the gateway is shut down and the session rebuilt in-process, the
    memo must not serve the dead JVM's Columns (ConnectionRefusedError)."""
    prog = f"""
import json
from pyspark import SparkContext
from iot_simulator_datalake_spark.actions import full_mat
from iot_simulator_datalake_spark.queries import REGISTRY
from iot_simulator_datalake_spark.session import get_spark

names = ("dedup_minhash_lsh_capped", "gopher_quality_rules",
         "similarity_topk_bruteforce", "bm25_from_postings")

def counts():
    spark = get_spark("jvm-restart", shuffle_partitions=4)
    return [full_mat(REGISTRY[n].fn(spark, {SF!r})) for n in names]

first = counts()
get_spark().stop()
SparkContext._gateway.shutdown()
SparkContext._gateway = None
SparkContext._jvm = None
print(json.dumps({{"first": first, "second": counts()}}))
"""
    got = _run(prog, tmp_path)
    assert got["first"] == got["second"]
    assert all(got["first"])


def test_scratch_dirs_leave_tmpdir_clean(tmp_path):
    """Every query that writes scratch dirs (``session.scratch`` or
    ``stagecache.scratch_dir``) leaves nothing in TMPDIR once its
    process exits, apart from ``stage_once`` layouts
    (``lake_stage/<tag>-<digest>-r<recipe>``, a cross-invocation cache
    by design)."""
    prog = f"""
import json
import tempfile
from iot_simulator_datalake_spark.actions import full_mat
from iot_simulator_datalake_spark.queries import REGISTRY
from iot_simulator_datalake_spark.session import get_spark

calls = []
_mkdtemp = tempfile.mkdtemp

def mkdtemp(*args, **kwargs):
    calls.append(1)
    return _mkdtemp(*args, **kwargs)

tempfile.mkdtemp = mkdtemp
spark = get_spark("tmpdir-hygiene", shuffle_partitions=4)
made = {{}}
for n in {SCRATCH_QUERIES + SCRATCH_DIR_QUERIES!r}:
    before = len(calls)
    full_mat(REGISTRY[n].fn(spark, {SF!r}))
    made[n] = len(calls) - before
print(json.dumps(made))
"""
    made = _run(prog, tmp_path)
    assert [n for n in SCRATCH_QUERIES if made[n] < 1] == []
    left = sorted(str(p.relative_to(tmp_path / "tmp"))
                  for p in (tmp_path / "tmp").iterdir())
    assert left in ([], ["lake_stage"])
    stage = tmp_path / "tmp" / "lake_stage"
    if stage.exists():
        strays = [p.name for p in stage.iterdir()
                  if not (p.name.rsplit("-", 1)[-1].startswith("r")
                          and (p / "_STAGED").exists())]
        assert strays == []


def _module_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _calls_mkdtemp(tree: ast.Module) -> bool:
    return any(isinstance(n, ast.Attribute) and n.attr == "mkdtemp"
               or isinstance(n, ast.alias) and n.name == "mkdtemp"
               for n in ast.walk(tree))


def test_jvm_state_has_one_home():
    """Outside session.py the package keeps no module-level memo and
    makes no bare mkdtemp dir: construction memos go through
    ``session.memo``, scratch dirs through ``session.scratch``."""
    memos, mkdtemps = [], []
    for path in sorted(PKG_DIR.rglob("*.py")):
        if path.name == "session.py" and path.parent == PKG_DIR:
            continue
        tree = ast.parse(path.read_text(), str(path))
        rel = str(path.relative_to(PKG_DIR))
        memos += [f"{rel}:{n}" for n in _module_names(tree)
                  if "MEMO" in n.upper()]
        if _calls_mkdtemp(tree):
            mkdtemps.append(rel)
    assert memos == []
    assert mkdtemps == []


def test_memo_is_dropped_with_its_gateway(monkeypatch):
    """A lookup under the same gateway is served from the memo; a new
    gateway object (even one equal in every other way) drops it."""
    from pyspark import SparkContext

    class Gateway:
        pass

    # a private scope, so the shared session's memo and scratch root
    # are back untouched when monkeypatch restores these
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_gateway", None)
    monkeypatch.setattr(session, "_scratch_root", None)
    built = []

    def build():
        built.append(1)
        return len(built)

    monkeypatch.setattr(SparkContext, "_gateway", Gateway())
    assert session.memo(("test", "k"), build) == 1
    assert session.memo(("test", "k"), build) == 1
    monkeypatch.setattr(SparkContext, "_gateway", Gateway())
    assert session.memo(("test", "k"), build) == 2


def test_driver_memory_is_half_the_host_within_bounds():
    gib = 2**30
    assert session.driver_memory(16 * gib) == "8192m"
    assert session.driver_memory(15 * gib + 700 * 2**20) == "8030m"
    assert session.driver_memory(gib) == "1024m"           # floor
    assert session.driver_memory(512 * gib) == "49152m"    # 48g cap
