"""Data-quality check framework.

Re-creates the reference's two test mechanisms (SURVEY §5.1) plus the
README-documented expectation policies:

- generic tests: ``not_null``, ``unique``, ``accepted_values`` declared
  per column in model yml (iot_events_models.yml:8-32,
  _gold_core_models.yml:7-22) — compiled here to DataFrame builders;
- singular tests: an arbitrary query whose non-empty result = failure
  (tests/pos_sensor_values.sql:1-6);
- expectations with warn/drop/fail actions (README_DBT.md:236-239 —
  ``CONSTRAINT ... EXPECT (...) [ON VIOLATION DROP ROW]``), applied
  inline during a model build via :func:`expect`.

Pass criterion everywhere: the violation query returns 0 rows.

Cost model.  The generic tests carry what they check as plain data
(:class:`Generic`), so :meth:`Engine.test` evaluates them fused: every
``not_null`` / ``accepted_values`` on a relation is one conditional
count in a single aggregate pass, and each ``unique`` key is one
grouped pass that the row-level counts ride along in
(:func:`count_violations`).  Their counts are exact; samples are
fetched only for checks that failed.  Every other check — singular,
relationship, freshness, hand-built — runs alone through
:meth:`Check.run`, whose ``limit(n+1)`` fetch is followed by an exact
``count()`` only when it overflows the sample.  Violation DataFrames
stay lazy and fully pushdown-optimizable.
"""

from __future__ import annotations

import enum
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any

from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame
    from .runner import Engine


class OnViolation(enum.Enum):
    """Expectation policy (README_DBT.md:236-239)."""
    WARN = "warn"    # keep rows, record metric
    DROP = "drop"    # drop violating rows, record metric
    FAIL = "fail"    # raise on first violating row


@dataclass
class CheckResult:
    name: str
    passed: bool
    violations: int
    sample: list[dict]


def _ref(df: "DataFrame", column: str) -> "Column":
    """``column`` of ``df``: a top-level name taken literally (so a
    name containing a dot is not read as a struct path), anything else
    as a column path."""
    if column in df.columns:
        return F.col("`" + column.replace("`", "``") + "`")
    return F.col(column)


@dataclass(frozen=True)
class Generic:
    """What a generic test checks, as plain data.  Columns are built
    per DataFrame, never stored: a Column belongs to the JVM that made
    it."""
    kind: str                # "not_null" | "accepted_values" | "unique"
    column: str
    values: tuple = ()       # accepted_values only

    def violating(self, df: "DataFrame") -> "Column":
        """Row-level violation predicate (not_null, accepted_values)."""
        c = _ref(df, self.column)
        if self.kind == "not_null":
            return c.isNull()
        if self.kind == "accepted_values":
            return ~c.isin(list(self.values)) & c.isNotNull()
        raise ValueError(f"{self.kind} is not a row-level check")

    def violations(self, df: "DataFrame") -> "DataFrame":
        if self.kind != "unique":
            return df.filter(self.violating(df))
        # aggregate under an unambiguous alias: groupBy(col).count() on
        # a column itself NAMED "count" yields two "count" columns and
        # the filter raises AMBIGUOUS_REFERENCE instead of evaluating
        return (df.groupBy(_ref(df, self.column))
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1))


@dataclass
class Check:
    """A named violation query over a materialized relation.

    Generic tests set ``generic`` and derive ``builder`` from it; every
    other check supplies its own ``builder``."""
    name: str
    relation: str            # qualified model name the check targets
    builder: Callable[["DataFrame"], "DataFrame"] | None = None
    generic: Generic | None = None

    def __post_init__(self) -> None:
        if self.builder is None:
            if self.generic is None:
                raise ValueError(f"check {self.name} needs a builder")
            self.builder = self.generic.violations

    def violations(self, engine: "Engine") -> "DataFrame":
        return self.builder(engine.table(self.relation))

    def run(self, engine: "Engine", max_sample: int = 5) -> CheckResult:
        df = self.violations(engine)    # a passing check is one job
        rows = df.limit(max_sample + 1).collect()
        n = df.count() if len(rows) > max_sample else len(rows)
        return CheckResult(
            name=self.name, passed=not rows, violations=n,
            sample=[r.asDict(recursive=True) for r in rows[:max_sample]])

    def result(self, engine: "Engine", violations: int,
               max_sample: int = 5) -> CheckResult:
        """Result for an already-counted check: the sample is fetched
        only when it failed."""
        rows = (self.violations(engine).limit(max_sample).collect()
                if violations else [])
        return CheckResult(
            name=self.name, passed=not violations, violations=violations,
            sample=[r.asDict(recursive=True) for r in rows])


def count_violations(df: "DataFrame",
                     generics: Sequence[Generic]) -> list[int]:
    """Exact violation counts of generic checks on one relation, in
    ``generics`` order, in one collect per ``unique`` key (one in all
    when there is none).

    The row-level checks compile to conditional counts in one
    aggregate pass (the :func:`~.metrics.metrics_frame` idiom).  Each
    ``unique`` key is a ``groupBy(key)`` that counts keys with n > 1,
    the NULL key included; the row-level counts ride along in the
    first of these passes as per-group partial counts.
    """
    rows = [i for i, g in enumerate(generics) if g.kind != "unique"]
    flags = [F.count(F.when(generics[i].violating(df), 1)).alias(f"__r{i}")
             for i in rows]
    keys = list(dict.fromkeys(g.column for g in generics
                              if g.kind == "unique"))
    counts = df.agg(*flags).first().asDict() if not keys else {}
    for n, key in enumerate(keys):
        ride = rows if n == 0 else []
        # the key is re-aliased so no column name of the relation can
        # clash with the aggregate's own output names
        per_key = df.groupBy(_ref(df, key).alias("__k")).agg(
            F.count(F.lit(1)).alias("__n"), *flags[:len(ride)])
        counts.update(per_key.agg(
            F.count(F.when(F.col("__n") > 1, 1)).alias(f"__u{n}"),
            *[F.coalesce(F.sum(f"__r{i}"), F.lit(0)).alias(f"__r{i}")
              for i in ride]).first().asDict())
    return [counts[f"__u{keys.index(g.column)}"] if g.kind == "unique"
            else counts[f"__r{i}"] for i, g in enumerate(generics)]


# -- generic tests (⇔ dbt schema tests) -----------------------------------

def not_null(relation: str, column: str) -> Check:
    """iot_events_models.yml:9-27 — violation = rows with NULL column."""
    return Check(name=f"not_null__{relation}__{column}", relation=relation,
                 generic=Generic("not_null", column))


def unique(relation: str, column: str) -> Check:
    """_gold_core_models.yml:9-22 — violation = key values occurring >1×
    (two-phase hash aggregate; map-side combine keeps it scalable)."""
    return Check(name=f"unique__{relation}__{column}", relation=relation,
                 generic=Generic("unique", column))


def accepted_values(relation: str, column: str,
                    values: Sequence[Any]) -> Check:
    """iot_events_models.yml:17-32 — violation = non-null values ∉ list."""
    return Check(
        name=f"accepted_values__{relation}__{column}", relation=relation,
        generic=Generic("accepted_values", column, tuple(values)))


@dataclass
class _Relationship(Check):
    """A check whose violation query reads two relations (child, parent)."""
    column: str = ""
    to_relation: str = ""
    to_column: str = ""

    def __post_init__(self) -> None:
        """No ``builder``: :meth:`violations` replaces it."""

    def violations(self, engine: "Engine") -> "DataFrame":
        from ..operators.hints import maybe_broadcast
        child = engine.table(self.relation)
        parent = engine.table(self.to_relation).select(
            F.col(self.to_column).alias(self.column)).distinct()
        return child.filter(F.col(self.column).isNotNull()).join(
            maybe_broadcast(parent), on=self.column, how="left_anti")


def relationship(relation: str, column: str, to_relation: str,
                 to_column: str) -> Check:
    """Referential integrity (J3, README_DBT.md:247): child keys with no
    parent — a left-anti join, size-gate broadcast when the parent side
    is provably a dim (hints.maybe_broadcast; a hard F.broadcast here
    would force a scale-factor-proportional parent's distinct key set
    through the driver — the exact failure the hints doctrine bans)."""
    return _Relationship(
        name=f"relationship__{relation}__{column}__{to_relation}",
        relation=relation, column=column, to_relation=to_relation,
        to_column=to_column)


def singular(name: str, relation: str,
             builder: Callable[["DataFrame"], "DataFrame"]) -> Check:
    """tests/pos_sensor_values.sql:1-6 — arbitrary violation query."""
    return Check(name=name, relation=relation, builder=builder)


def freshness(relation: str, ts_column: str, max_lag_seconds: int,
              now: Callable[[], Any] | None = None) -> Check:
    """``dbt source freshness`` analog: fail when the newest row in
    ``relation`` is older than ``max_lag_seconds``.

    The violation relation is at most ONE row (the global max — an
    aggregate that pushes down to parquet footer stats on plain scans),
    so the check costs a metadata-sized job however large the table;
    ``now`` is injectable for tests and for replaying historical runs.
    """
    def build(df: "DataFrame") -> "DataFrame":
        import datetime as _dt
        current = now() if now is not None else \
            _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        return (df.agg(F.max(ts_column).alias("latest"))
                .filter(F.col("latest").isNull() |
                        (F.col("latest") <
                         F.lit(current) - F.expr(
                             f"INTERVAL {max_lag_seconds} SECONDS"))))
    return Check(name=f"freshness__{relation}__{ts_column}",
                 relation=relation, builder=build)


# -- inline expectations (P9) ---------------------------------------------

def _violates(condition) -> "Column":
    """The violation predicate every expectation helper shares: a row
    violates unless its condition is TRUE, so a NULL condition counts
    as a violation (and DROP drops it) — SQL's ``WHERE`` keeps only
    TRUE rows, and so do the conforming outputs."""
    cond = condition if not isinstance(condition, str) else F.expr(condition)
    return ~F.coalesce(cond, F.lit(False))


def expect(df: "DataFrame", name: str, condition,
           on_violation: OnViolation = OnViolation.WARN,
           metrics: dict[str, int] | None = None) -> "DataFrame":
    """Inline quality gate during a model build (README_DBT.md:236-239).

    WARN: pass-through (metric recorded if a dict is supplied).
    DROP: returns only conforming rows.
    FAIL: raises if any row violates.

    A row whose condition is NULL violates (see :func:`_violates`).
    The metric is a ``filter().count()`` — one extra scan; for a
    scan-free count that rides the caller's own action use
    :func:`expect_observed`.
    """
    violates = _violates(condition)
    if metrics is not None:
        n_bad = df.filter(violates).count()
        metrics[name] = n_bad
        if n_bad and on_violation is OnViolation.FAIL:
            raise ValueError(f"expectation {name}: {n_bad} violating rows")
    elif on_violation is OnViolation.FAIL:
        rows = df.filter(violates).limit(1).collect()
        if rows:
            raise ValueError(f"expectation {name}: violation {rows[0]}")
    if on_violation is OnViolation.DROP:
        return df.filter(~violates)
    return df


def expect_observed(df: "DataFrame", name: str, condition,
                    on_violation: OnViolation = OnViolation.WARN):
    """Scan-free expectation metrics via ``df.observe``: returns
    ``(df, observation)`` where the violation count rides along with
    the caller's OWN action instead of triggering a second scan —
    the right shape at 100 TB, and the only shape that works inside a
    streaming query (DLT expectations report metrics the same way).

    ``observation.get["n_violations"]`` is available after the caller
    executes an action on the returned DataFrame (batch), or via the
    streaming progress listener's observedMetrics (streams).
    """
    from pyspark.sql import Observation
    if on_violation is OnViolation.FAIL:
        # a scan-free observation cannot abort the query before rows
        # flow — silently downgrading FAIL to WARN would drop the
        # enforcement the caller explicitly asked for
        raise ValueError(
            "expect_observed cannot enforce FAIL (metrics ride the "
            "caller's action; rows are not gated) — use expect() for "
            "FAIL semantics")
    violates = _violates(condition)
    obs = Observation(name)
    observed = df.observe(
        obs, F.sum(F.when(violates, 1).otherwise(0)).alias("n_violations"),
        F.count(F.lit(1)).alias("n_rows"))
    if on_violation is OnViolation.DROP:
        observed = observed.filter(~violates)
    return observed, obs


def expect_or_quarantine(df: "DataFrame", name: str, condition
                         ) -> tuple["DataFrame", "DataFrame"]:
    """Split a relation into (conforming, quarantined) in ONE logical
    pass — the DLT quarantine pattern: instead of silently dropping
    violating rows (DROP) or aborting the pipeline (FAIL), route them
    to a reject relation carrying the failed expectation's name, so
    data engineers can triage bad records without blocking the good
    ones (the standard medallion "rescued data" workflow).

    Both returned frames derive from the same scan lineage; writing
    both materializes the source once under Spark's scan reuse (or
    twice without caching — still O(input), never O(input²)).  The
    quarantine frame appends ``_failed_expectation`` and
    ``_quarantined_at`` audit columns.
    """
    violates = _violates(condition)
    good = df.filter(~violates)
    bad = (df.filter(violates)
           .withColumn("_failed_expectation", F.lit(name))
           .withColumn("_quarantined_at", F.current_timestamp()))
    return good, bad
