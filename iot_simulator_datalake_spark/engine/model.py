"""Model abstraction and registry.

A *model* is a named, layered relation produced by a builder function
``ModelContext -> DataFrame`` — the engine's equivalent of a dbt model
SQL file (reference: models/**/*.sql; DAG edges via ``ref()``, e.g.
fact_iot_events.sql:7-14).  Materialization ∈ {view, table,
streaming_table} mirrors dbt_project.yml:11-19 +
``config(materialized=...)`` overrides (bronze_iot_events.sql:2).
A builder reads upstreams through ``ctx.ref``/``ctx.stream`` and its
own published table through ``ctx.this``; the engine wires the paths.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass
from graphlib import TopologicalSorter
from typing import TYPE_CHECKING, Any

from .publish import read_state

if TYPE_CHECKING:  # pragma: no cover
    from pathlib import Path

    from pyspark.sql import DataFrame, SparkSession

MATERIALIZATIONS = ("view", "table", "streaming_table")


@dataclass
class Model:
    """A node in the pipeline DAG.

    name:            unqualified model name (e.g. ``iot_events``)
    layer:           logical layer; also the target schema by default
                     (macros/generate_schema_name.sql:1-8 routes a model's
                     configured schema verbatim — we mirror with
                     ``schema or layer``)
    materialization: view | table | streaming_table
    builder:         fn(ModelContext) -> DataFrame (lazy logical plan)
    depends_on:      qualified upstream names ("layer.name")
    partition_by:    partition columns for table sinks (S9 partitioned
                     ingestion, README_DBT.md:99)
    """

    name: str
    layer: str
    builder: Callable[["ModelContext"], "DataFrame"]
    materialization: str = "view"
    depends_on: tuple[str, ...] = ()
    schema: str | None = None
    partition_by: tuple[str, ...] = ()
    #: (n_buckets, col, ...) — hash-bucket the table sink so later joins/
    #: aggs on these cols co-locate without a shuffle (table mat. only)
    bucket_by: tuple = ()
    #: how many versions of the table sink its install log retains
    #: (≥ 1; None → 2); engine/snapshots.py reads the history, and
    #: installs that do not come from the model (compact, cluster,
    #: zorder) keep the same depth (table mat. only)
    snapshot_keep: int | None = None
    #: dbt-style ENFORCED model contract: {column: spark_type_string}.
    #: Checked against the builder's output schema before any write —
    #: a missing column, extra column, or type mismatch aborts the
    #: materialization (dbt `contract: enforced: true` semantics), so
    #: downstream consumers can rely on the declared shape.
    contract: dict[str, str] | None = None
    description: str = ""

    def __post_init__(self) -> None:
        if self.materialization not in MATERIALIZATIONS:
            raise ValueError(
                f"model {self.name}: materialization must be one of "
                f"{MATERIALIZATIONS}, got {self.materialization!r}")
        if self.snapshot_keep is not None and self.snapshot_keep < 1:
            raise ValueError(
                f"model {self.name}: snapshot_keep must be >= 1, got "
                f"{self.snapshot_keep}")

    @property
    def qualified_name(self) -> str:
        return f"{self.schema or self.layer}.{self.name}"


class ModelContext:
    """What a builder sees: the session, resolved config vars, and the
    engine-wired reads (⇔ dbt's ``{{ ref(...) }}`` / ``{{ var(...) }}``
    / ``{{ this }}`` compile-time substitutions, §2.10 O1/O3, and DLT's
    ``STREAM(ref(...))``).  Builders only declare what they read; where
    upstream tables and per-model state files live is the engine's
    business, so only this class touches the engine."""

    def __init__(self, spark: "SparkSession", engine: Any, model: Model):
        self.spark = spark
        self._engine = engine
        self.model = model

    def ref(self, qualified_name: str) -> "DataFrame":
        """Resolve an upstream model to its materialized DataFrame."""
        if qualified_name not in self.model.depends_on:
            raise KeyError(
                f"model {self.model.qualified_name} ref({qualified_name!r}) "
                f"not declared in depends_on={self.model.depends_on} — "
                "declare it so the DAG stays accurate")
        return self._engine.table(qualified_name)

    def stream(self, qualified_name: str) -> "DataFrame":
        """``STREAM(ref(name))`` (silver_iot_events.sql:10-12).

        From a ``streaming_table`` model: an incremental stream over the
        upstream streaming table's directory, with the upstream's
        REGISTERED schema — a zero-input upstream run leaves no parquet
        files, and inference on the empty dir would raise.  The
        calling model's checkpoint makes the read exactly-once.  From a
        ``table``/``view`` model: ``ref(name)``, the batch rendering of
        the same DAG."""
        df = self.ref(qualified_name)
        if self.model.materialization != "streaming_table":
            return df
        up = self._engine.registry[qualified_name]
        if up.materialization != "streaming_table":
            # a table's dir is a symlink retargeted on every rewrite:
            # a stream over it breaks on the next version install
            raise ValueError(
                f"model {self.model.qualified_name} streams "
                f"{qualified_name}, a {up.materialization!r}; only a "
                "streaming_table can be streamed from")
        return (self.spark.readStream.schema(df.schema)
                .parquet(str(self._engine.table_path(up))))

    def this(self) -> "DataFrame | None":
        """``{{ this }}``: this model's currently published table, or
        ``None`` before its first run."""
        return read_state(self.spark, self._engine.table_path(self.model))

    def state_path(self, kind: str) -> "Path":
        """This model's ``kind`` state file under the warehouse (see
        ``Engine.state_path``)."""
        return self._engine.state_path(self.model, kind)

    def var(self, key: str, default: Any = None) -> Any:
        return self._engine.config.get(key, default)


class Registry:
    """Ordered collection of models; validates the DAG and toposorts it."""

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}

    def add(self, m: Model) -> Model:
        qn = m.qualified_name
        if qn in self._models:
            raise ValueError(f"duplicate model {qn}")
        self._models[qn] = m
        return m

    def __getitem__(self, qualified_name: str) -> Model:
        return self._models[qualified_name]

    def __iter__(self):
        return iter(self._models.values())

    def __len__(self) -> int:
        return len(self._models)

    def toposort(self, select: Iterable[str] | None = None) -> list[Model]:
        """Dependency-ordered model list (⇔ dbt's manifest DAG schedule,
        SURVEY §3.1 step 3).  ``select`` supports dbt graph operators:

        - ``name``  — the model plus all its upstreams (a model cannot
          build without its inputs, so plain selection implies ``+name``)
        - ``name+`` — additionally every DOWNSTREAM model (and each
          downstream's own upstream closure) — the "rebuild everything
          this change affects" selector

        A selector naming no model raises ``ValueError``.
        """
        graph = {qn: set(m.depends_on) for qn, m in self._models.items()}
        for qn, deps in graph.items():
            missing = deps - graph.keys()
            if missing:
                raise ValueError(f"model {qn} depends on unknown {missing}")
        order = list(TopologicalSorter(graph).static_order())
        if select is not None:
            select = list(select)
            unknown = [t for t in select if t.strip("+") not in graph]
            if unknown:
                raise ValueError(
                    f"unknown selector(s) {unknown}: no such model "
                    f"(have: {sorted(graph)})")
            children: dict[str, set[str]] = {qn: set() for qn in graph}
            for qn, deps in graph.items():
                for d in deps:
                    children[d].add(qn)
            roots: list[str] = []
            for token in select:
                if token.endswith("+"):
                    desc = [token.strip("+")]
                    while desc:
                        qn = desc.pop()
                        if qn not in roots:
                            roots.append(qn)
                            desc.extend(children[qn])
                else:
                    roots.append(token.strip("+"))
            keep: set[str] = set()
            stack = list(roots)
            while stack:
                qn = stack.pop()
                if qn not in keep:
                    keep.add(qn)
                    stack.extend(graph[qn])
            order = [qn for qn in order if qn in keep]
        return [self._models[qn] for qn in order]

    def levels(self, select: Iterable[str] | None = None) -> list[list[Model]]:
        """Toposort grouped into parallelizable waves — models in one wave
        have no edges among themselves, so they materialize concurrently
        (⇔ dbt ``threads: 8``, profiles.yml:14)."""
        ordered = self.toposort(select)
        selected = {m.qualified_name for m in ordered}
        depth: dict[str, int] = {}
        for m in ordered:
            deps = [d for d in m.depends_on if d in selected]
            depth[m.qualified_name] = 1 + max((depth[d] for d in deps), default=-1)
        waves: dict[int, list[Model]] = {}
        for qn, d in depth.items():
            waves.setdefault(d, []).append(self._models[qn])
        return [waves[d] for d in sorted(waves)]


def model(registry: Registry, *, name: str, layer: str,
          materialization: str = "view",
          depends_on: Iterable[str] = (),
          schema: str | None = None,
          partition_by: Iterable[str] = (),
          bucket_by: Iterable = (),
          snapshot_keep: int | None = None,
          contract: dict[str, str] | None = None,
          description: str = "") -> Callable:
    """Decorator: register a builder function as a Model."""

    def wrap(fn: Callable[[ModelContext], "DataFrame"]) -> Model:
        return registry.add(Model(
            name=name, layer=layer, builder=fn,
            materialization=materialization,
            depends_on=tuple(depends_on), schema=schema,
            partition_by=tuple(partition_by), bucket_by=tuple(bucket_by),
            snapshot_keep=snapshot_keep, contract=contract,
            description=description or (fn.__doc__ or "")))

    return wrap
