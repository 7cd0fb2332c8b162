"""The model/DAG engine: dbt-core semantics re-expressed as a small
PySpark-native framework (SURVEY.md §2.10, §3.1).

Reference equivalences (files under /root/reference):

- ``Model`` + ``@model`` decorator  ⇔  a dbt model .sql file + its
  ``{{ config(...) }}`` block (e.g. bronze_iot_events.sql:1-6).
- ``depends_on`` / ``ctx.ref()``    ⇔  ``{{ ref('x') }}`` DAG edges
  (fact_iot_events.sql:7-14).
- ``ctx.stream()`` / ``ctx.this()`` ⇔  ``STREAM(ref('x'))``
  (silver_iot_events.sql:10-12) / dbt's ``{{ this }}``.
- ``Engine.run()``                  ⇔  ``dbt run`` (resources/jobs.yml:32).
- ``Engine.test()``                 ⇔  ``dbt test`` (resources/jobs.yml:33).
- ``GrantRegistry`` + run_as        ⇔  the Unity Catalog GRANT surface
  (01-setup-sp-permissions.sql:1-36) enforced at the engine boundary.
"""

from .grants import Grant, GrantRegistry, audit_df, grants_df
from .model import Model, ModelContext, Registry, model
from .runner import Engine, RunResult
from .checks import (
    Check,
    CheckResult,
    OnViolation,
    accepted_values,
    expect,
    expect_observed,
    freshness,
    not_null,
    relationship,
    singular,
    unique,
)

__all__ = [
    "Model", "ModelContext", "Registry", "model",
    "Engine", "RunResult",
    "Grant", "GrantRegistry", "grants_df", "audit_df",
    "Check", "CheckResult", "OnViolation",
    "not_null", "unique", "accepted_values", "relationship", "singular",
    "expect", "expect_observed",
]
