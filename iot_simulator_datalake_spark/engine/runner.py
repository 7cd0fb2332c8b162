"""Engine: materializes the model DAG and runs data-quality checks.

Equivalent of ``dbt run`` + ``dbt test`` (reference:
resources/jobs.yml:30-33 runs exactly those two commands), minus the
Databricks control plane: builders produce lazy DataFrames, Catalyst/AQE
do all optimization (SURVEY §4 — zero custom optimizer rules needed).

Materializations (dbt_project.yml:11-19):

- ``view``            → temp view + in-memory handle (no write)
- ``table``           → parquet into a new version dir, installed and
                        retained (``snapshot_keep``) by
                        engine/publish.py, read back with the written
                        frame's schema (so downstream reads scan
                        columnar storage with pushdown, like a real
                        table, and no inference job runs)
- ``streaming_table`` → Structured Streaming triggered (availableNow)
                        run with a checkpoint dir → exactly-once
                        incremental append (⇔ DLT streaming table,
                        bronze_iot_events.sql:2,8-9); see
                        streaming/runner.py.  Its builder reads an
                        upstream streaming table with ``ctx.stream``;
                        its checkpoint and schema store sit at
                        ``Engine.state_path``, so no builder names a
                        warehouse path

Independent models materialize concurrently (thread pool over DAG waves
⇔ dbt ``threads: 8``, profiles.yml:14).  Spark's scheduler interleaves
their jobs.

``run`` and ``test`` write their own run, model and check events to
``Engine.event_log`` when it is set (engine/eventlog.py); a model's
logged ``seconds`` is its ``RunResult.seconds``.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import TYPE_CHECKING, Any

from .checks import Check, CheckResult, count_violations
from .model import Model, ModelContext, Registry
from .publish import (DEFAULT_KEEP, _install_version, overlay_version,
                      write_version)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType


def _read_back(spark: "SparkSession", schema: "StructType",
               vdir: Path) -> "DataFrame":
    """Read a version dir just written from a frame with ``schema``,
    without a schema-inference job.  As with any schema-given read of a
    partitioned dir, partition columns go last and their directory
    values are parsed as the declared types (the rule
    streaming/runner.py applies to streaming tables)."""
    return spark.read.schema(schema).parquet(str(vdir))


class ContractViolation(ValueError):
    """A model's output schema broke its enforced contract."""


def _enforce_contract(m: Model, df: "DataFrame") -> None:
    """dbt `contract: enforced` semantics: the builder's output must
    carry EXACTLY the declared columns with the declared Spark types
    (simpleString form, e.g. 'bigint', 'string', 'timestamp').
    Runs on the lazy schema — no data is scanned."""
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = dict(m.contract or {})
    problems = []
    for col, typ in want.items():
        if col not in got:
            problems.append(f"missing column {col!r}")
        elif got[col] != typ:
            problems.append(f"{col}: got {got[col]}, contract says {typ}")
    for col in got:
        if col not in want:
            problems.append(f"undeclared column {col!r}")
    if problems:
        raise ContractViolation(
            f"model {m.qualified_name} breaks its contract: "
            + "; ".join(problems))


@dataclass
class RunResult:
    materialized: list[str] = field(default_factory=list)
    seconds: dict[str, float] = field(default_factory=dict)


class Engine:
    """Holds the session, config vars, registry, checks, and the
    materialized-relation namespace."""

    def __init__(self, spark: "SparkSession", registry: Registry,
                 config: dict[str, Any] | None = None,
                 warehouse: str | Path = "/tmp/iot_lake_warehouse",
                 threads: int = 8,
                 grants: Any | None = None,
                 run_as: str | None = None):
        self.spark = spark
        self.registry = registry
        self.config = dict(config or {})
        self.warehouse = Path(warehouse)
        self.threads = threads  # ⇔ profiles.yml:14
        #: UC-analog access control (engine/grants.py — the reference's
        #: 01-setup-sp-permissions.sql surface): when BOTH a
        #: GrantRegistry and a run-as principal are set, every model
        #: materialization first proves SELECT on each upstream schema
        #: and CREATE TABLE (+ MODIFY for table sinks) on the target
        #: schema, with UC USE CATALOG / USE SCHEMA gating; a missing
        #: grant aborts the run with PermissionError.  The catalog name
        #: comes from config["catalog"] (⇔ databricks.yml's dev_catalog).
        self.grants = grants
        self.run_as = run_as
        self._relations: dict[str, "DataFrame"] = {}
        self.checks: list[Check] = []
        #: event sink (engine/eventlog.EventLog); None emits nothing
        self.event_log = None

    # -- namespace ---------------------------------------------------------

    def table(self, qualified_name: str) -> "DataFrame":
        """Resolve a materialized relation (``layer.name``)."""
        if qualified_name not in self._relations:
            raise KeyError(f"relation {qualified_name} not materialized yet "
                           f"(have: {sorted(self._relations)})")
        return self._relations[qualified_name]

    def register(self, qualified_name: str, df: "DataFrame") -> None:
        """Expose a DataFrame under a qualified name + a temp view
        (dots → ``__`` since Spark temp views are single-level)."""
        self._relations[qualified_name] = df
        df.createOrReplaceTempView(qualified_name.replace(".", "__"))

    def table_path(self, m: Model) -> Path:
        return self.warehouse / (m.schema or m.layer) / m.name

    def state_path(self, m: Model, kind: str) -> Path:
        """Where model ``m`` keeps its ``kind`` state: ``checkpoint`` →
        ``_checkpoints/<qn>`` (the streaming checkpoint dir), ``schema``
        → ``_schemas/<qn>.json`` (an inferred source schema).  Named by
        concatenation: ``with_suffix`` would eat ``.<name>`` of the
        qualified name."""
        subdir, suffix = {"checkpoint": ("_checkpoints", ""),
                          "schema": ("_schemas", ".json")}[kind]
        return self.warehouse / subdir / (m.qualified_name + suffix)

    # -- materialization ---------------------------------------------------

    def _authorize(self, m: Model) -> None:
        """Grant checks for one model (no-op unless grants+run_as are
        configured — see __init__).  Mirrors what Unity Catalog itself
        would demand of the reference's job cluster: SELECT on every
        upstream's schema, CREATE TABLE on the target schema (UC
        requires it for views too), MODIFY for table/streaming writes;
        each check implies the USE CATALOG / USE SCHEMA chain."""
        if self.grants is None or self.run_as is None:
            return
        cat = self.config.get("catalog", "main")
        for dep in m.depends_on:
            self.grants.require(self.run_as, "SELECT", "SCHEMA",
                                f"{cat}.{dep.split('.', 1)[0]}")
        tgt = f"{cat}.{m.schema or m.layer}"
        self.grants.require(self.run_as, "CREATE TABLE", "SCHEMA", tgt)
        if m.materialization in ("table", "streaming_table"):
            self.grants.require(self.run_as, "MODIFY", "SCHEMA", tgt)

    def _materialize(self, m: Model,
                     deferred: list | None = None) -> None:
        self._authorize(m)
        ctx = ModelContext(self.spark, self, m)
        if m.materialization == "streaming_table":
            # Builders of streaming tables return a *streaming* DataFrame;
            # the streaming runner drains it exactly-once into the table
            # path and hands back a batch DataFrame over the result.
            from ..streaming.runner import materialize_streaming_table
            stream_df = m.builder(ctx)
            if m.contract is not None:
                _enforce_contract(m, stream_df)  # lazy schema: no scan
            df = materialize_streaming_table(
                spark=self.spark, stream_df=stream_df,
                path=self.table_path(m),
                checkpoint=self.state_path(m, "checkpoint"),
                partition_by=m.partition_by)
        else:
            df = m.builder(ctx)
            if m.contract is not None:
                _enforce_contract(m, df)
            if m.materialization == "table":
                path = self.table_path(m)
                if m.bucket_by:
                    # bucketed sink: catalog table (bucket metadata lives
                    # in the catalog); joins/aggs on the bucket cols then
                    # skip the shuffle entirely (co-located join)
                    writer = df.write.mode("overwrite")
                    if m.partition_by:
                        writer = writer.partitionBy(*m.partition_by)
                    n, *cols = m.bucket_by
                    db = m.schema or m.layer
                    self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS {m.qualified_name}")
                    (writer.format("parquet")
                     .bucketBy(int(n), *cols).sortBy(*cols)
                     .option("path", str(path))
                     .saveAsTable(m.qualified_name))
                    df = self.spark.table(m.qualified_name)
                else:
                    # write a private version dir, atomically retarget
                    # the table symlink: concurrent engine.run()s
                    # serialize to complete snapshots and in-flight
                    # readers keep theirs (see _install_version)
                    vdir = write_version(df, path, m.partition_by)
                    keep = m.snapshot_keep or DEFAULT_KEEP
                    if deferred is None:
                        _install_version(vdir, path, keep)
                    else:
                        # atomic-publish run: install later, all at once
                        deferred.append((vdir, path, keep))
                    # register OUR version dir, not the symlink: this
                    # run's downstream reads stay consistent even if a
                    # concurrent run retargets the link mid-query
                    df = _read_back(self.spark, df.schema, vdir)
        self.register(m.qualified_name, df)

    def run(self, select: list[str] | None = None,
            atomic_publish: bool = False) -> RunResult:
        """Materialize the DAG in dependency order, wave-parallel.

        ``atomic_publish=True`` makes the whole run all-or-nothing for
        OUTSIDE readers: every plain-table model writes its version dir
        during the run (downstream models read those dirs directly, so
        the DAG itself is unaffected), but the table symlinks are
        retargeted only AFTER every model has succeeded — a failure
        anywhere leaves all published tables at their pre-run state
        (the staged version dirs are removed).  The publish step is a
        burst of log entries and symlink renames: milliseconds,
        data-size-independent.  ``snapshot_keep`` tables are plain
        tables here and defer like any other; streaming/bucketed sinks
        install eagerly and are documented out of the atomic scope.
        """
        log = self.event_log
        if log is not None:
            log.emit("run_started", models=select or "all")
        deferred: list | None = [] if atomic_publish else None
        result = RunResult()
        try:
            self._run_waves(select, deferred, result)
            while deferred:     # an installed dir leaves the list
                _install_version(*deferred.pop(0))
        except Exception as e:
            for vdir, *_ in deferred or ():
                shutil.rmtree(vdir, ignore_errors=True)
            if log is not None:
                log.emit("run_failed", error=repr(e))
            raise
        if log is not None:
            log.run_finished(result.seconds)
        return result

    def _run_waves(self, select, deferred, result: RunResult) -> None:
        log = self.event_log

        def one(m: Model) -> tuple[str, float]:
            t0 = time.monotonic()
            try:
                self._materialize(m, deferred)
            except Exception as e:
                if log is not None:
                    log.model_event(m.qualified_name, time.monotonic() - t0,
                                    status="failed", error=repr(e))
                raise
            dt = time.monotonic() - t0
            if log is not None:
                log.model_event(m.qualified_name, dt)
            return m.qualified_name, dt

        for wave in self.registry.levels(select):
            if len(wave) == 1:
                outs = [one(wave[0])]
            else:
                with ThreadPoolExecutor(max_workers=self.threads) as pool:
                    outs = list(pool.map(one, wave))
            for qn, dt in outs:
                result.materialized.append(qn)
                result.seconds[qn] = dt

    def backfill(self, qualified_name: str, where: str) -> "DataFrame":
        """Partition-scoped re-materialization of a partitioned table
        model: recompute only the slice matched by ``where`` (a SQL
        predicate over the model's partition columns) and swap exactly
        the partitions that slice produces — the late-data / bug-fix
        rerun every lake pipeline needs, without recomputing or
        rewriting the rest of the table.

        ``publish.overlay_version`` writes the slice over a hardlink copy
        of the current version, so untouched partitions stay in place
        byte-for-byte; the predicate is pushed into the builder's plan,
        so at 100 TB the recompute reads only the affected input
        partitions (partition pruning), not the history.  The result
        installs as a new logged version, so the table's retention
        (``snapshot_keep``) and history cover it like any refresh.
        """
        m = self.registry[qualified_name]
        # the same grants as run(): it reads every upstream through
        # m.builder and rewrites the target's partitions
        self._authorize(m)
        if m.materialization != "table" or not m.partition_by:
            raise ValueError(
                f"backfill targets partitioned table models; "
                f"{qualified_name} is {m.materialization!r} "
                f"partitioned by {m.partition_by!r}")
        ctx = ModelContext(self.spark, self, m)
        df = m.builder(ctx).filter(where)
        path = self.table_path(m)
        vdir = overlay_version(df, path, m.partition_by)
        _install_version(vdir, path, m.snapshot_keep or DEFAULT_KEEP)
        out = _read_back(self.spark, df.schema, vdir)
        self.register(m.qualified_name, out)
        return out

    # -- checks ------------------------------------------------------------

    def add_check(self, check: Check) -> Check:
        self.checks.append(check)
        return check

    def test(self, max_sample: int = 5) -> list[CheckResult]:
        """Run every registered check; pass ⇔ violation query returns 0
        rows (the reference's universal criterion, SURVEY §5.1).
        Results come back in registration order.

        The generic checks (``not_null``, ``accepted_values``,
        ``unique``) are fused per relation: one aggregate pass for the
        row-level ones, one grouped pass per ``unique`` key, with the
        row-level counts riding along in the first
        (:func:`~.checks.count_violations`), and a sample is fetched
        only for a failed check.  Every other check runs alone through
        ``Check.run``.  Every ``violations`` is exact.

        With an ``event_log`` attached, each result is also appended to
        it as a ``check_result`` event (⇔ dbt's test-result artifacts),
        so quality history survives across runs.
        """
        done: dict[int, CheckResult] = {}
        fused: dict[str, list[int]] = {}
        for i, c in enumerate(self.checks):
            if c.generic is None:
                done[i] = c.run(self, max_sample=max_sample)
            else:
                fused.setdefault(c.relation, []).append(i)
        for rel, idx in fused.items():
            counts = count_violations(
                self.table(rel), [self.checks[i].generic for i in idx])
            for i, n in zip(idx, counts):
                done[i] = self.checks[i].result(self, n, max_sample)
        results = [done[i] for i in range(len(self.checks))]
        if self.event_log is not None:
            for r in results:
                self.event_log.check_event(r.name, r.passed, r.violations)
        return results

    # -- docs --------------------------------------------------------------

    def docs_manifest(self) -> dict:
        """``dbt docs generate`` analog: one JSON-serializable manifest
        of the project — models (materialization, schema, deps,
        contract, description), check inventory, and the warehouse
        location.  Pure metadata: no Spark job runs."""
        return {
            "warehouse": str(self.warehouse),
            "models": [{
                "name": m.qualified_name,
                "layer": m.layer,
                "schema": m.schema or m.layer,
                "materialization": m.materialization,
                "depends_on": list(m.depends_on),
                "partition_by": list(m.partition_by),
                "contract": m.contract,
                "description": (m.description or "").strip(),
            } for m in self.registry],
            "checks": [{"name": c.name, "relation": c.relation}
                       for c in self.checks],
        }

    # -- cleanup -----------------------------------------------------------

    def drop_warehouse(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
