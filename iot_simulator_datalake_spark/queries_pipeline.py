"""The engine itself inside the correctness gate.

``engine_pipeline_fact`` exports the driver's events table as a raw
JSON landing directory (the reference's ingestion shape), runs the REAL
five-model medallion DAG — bronze JSON ingest → silver
normalize/filter contract → gold star schema — through the Engine's
batch materialization path, and returns the gold fact.  The DuckDB
oracle replicates the full pipeline semantics in one SQL statement, so
the driver's hash compare certifies the engine's DAG execution,
materializations, and the ported model logic end to end — not just a
standalone query expression.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .engine import Engine
from .pipeline import build_registry
from .queries import load, q
from .session import scratch
from .streaming.runner import run_stream_available_now

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

#: events → raw iot_events mapping (deterministic, dirty on purpose:
#: event_id%5==2 rows carry an invalid flag that silver must drop, and
#: the kept flags arrive mixed-case/padded to exercise normalization —
#: FIXTURES.md §1's dirty-data contract)
_FLAG = (("0", "' GOOD '"), ("1", "'suspect'"), ("2", "'bad'"),
         ("3", "'Suspect'"), ("4", "'good'"))


_PIPELINE_ORACLE = """
WITH silver AS (
  SELECT 'dev-' || user_id AS device_id,
         'loc-' || (user_id % 10) AS location_id,
         ts AS timestamp,
         event_type AS sensor_type,
         CASE (event_id % 5) WHEN 0 THEN 'good' WHEN 1 THEN 'suspect'
              WHEN 3 THEN 'suspect' WHEN 4 THEN 'good' END AS quality_flag,
         value
  FROM events
  WHERE (event_id % 5) <> 2
)
SELECT location_id, sensor_type, quality_flag,
       EXTRACT(year FROM timestamp)::INT AS year,
       EXTRACT(month FROM timestamp)::INT AS month,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value)
         AS avg_value
FROM silver
GROUP BY 1, 2, 3, 4, 5
"""


def _export_landing(spark: "SparkSession", sf_dir: str) -> Path:
    e = load(spark, sf_dir, "events")
    flag = F.expr("CASE (event_id % 5) " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in _FLAG) + " END")
    raw = e.select(
        F.concat(F.lit("dev-"), F.col("user_id")).alias("device_id"),
        F.concat(F.lit("loc-"), F.col("user_id") % 10).alias("location_id"),
        # µs-precision string; silver casts it back losslessly (UTC)
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("timestamp"),
        F.col("event_type").alias("sensor_type"),
        flag.alias("quality_flag"),
        F.lit("unit").alias("unit"),
        F.col("value"))
    workdir = Path(scratch("engine_pipeline_"))
    raw.write.mode("overwrite").json(str(workdir / "landing"))
    return workdir


@q("engine_pipeline_fact", ("O1", "O5", "S2", "P2", "P3", "P5", "A1",
                            "A2", "A3", "J1", "J2"),
   oracle=_PIPELINE_ORACLE)
def engine_pipeline_fact(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Run the ported medallion pipeline end to end on a JSON export of
    the events table; returns gold.fact_iot_events."""
    workdir = _export_landing(spark, sf_dir)
    eng = Engine(spark, build_registry(streaming=False),
                 config={"iot_events_path": str(workdir / "landing")},
                 warehouse=workdir / "wh")
    eng.run()
    return eng.table("gold.fact_iot_events")


@q("engine_pipeline_fact_streaming", ("O1", "S1", "S3", "S5", "ST1",
                                      "ST2", "ST3", "A1", "J1", "J2"),
   oracle=_PIPELINE_ORACLE)
def engine_pipeline_fact_streaming(spark: "SparkSession",
                                   sf_dir: str) -> "DataFrame":
    """The same pipeline through the STREAMING materialization path:
    bronze and silver run as checkpointed availableNow streaming tables
    (exactly-once file discovery + table-to-table incremental read),
    gold in batch — the reference's actual execution mode
    (README_DBT.md:213).  Must produce the identical fact table."""
    workdir = _export_landing(spark, sf_dir)
    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(workdir / "landing")},
                 warehouse=workdir / "wh")
    eng.run()
    return eng.table("gold.fact_iot_events")


# =========================================================================
# DAG lineage closure ([EXT] — impact analysis over the Engine registry)
# =========================================================================

def _production_models():
    """``(dag, model)`` for every model of both production DAGs."""
    from .pipeline.corpus_models import build_corpus_registry
    for dag, reg in (("iot", build_registry(streaming=False)),
                     ("corpus", build_corpus_registry())):
        for m in reg:
            yield dag, m


def _lineage_edges() -> list[tuple[str, str]]:
    """(upstream, downstream) edges of both production DAGs, derived
    from the same ``Model.depends_on`` metadata the Engine schedules
    from — so query and oracle share one source of truth."""
    return sorted({(dep, m.qualified_name)
                   for _, m in _production_models() for dep in m.depends_on})


def _lineage_oracle() -> str:
    vals = ", ".join(f"('{u}', '{d}')" for u, d in _lineage_edges())
    return f"""
WITH RECURSIVE edges(up, down) AS (SELECT * FROM (VALUES {vals})),
closure(up, down, depth) AS (
  SELECT up, down, 1 FROM edges
  UNION
  SELECT c.up, e.down, c.depth + 1
  FROM closure c JOIN edges e ON e.up = c.down
)
SELECT up AS upstream, down AS downstream,
       CAST(MIN(depth) AS BIGINT) AS depth
FROM closure GROUP BY 1, 2
"""


@q("pipeline_lineage_closure", ("O1",), oracle=_lineage_oracle())
def pipeline_lineage_closure(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """Transitive lineage closure of the two production Engine DAGs:
    every (upstream, downstream) reachability pair with its shortest
    path length — the impact-analysis relation behind "what must
    recompute if silver.iot_events is restated?" and "which sources
    feed this gold table?" (dbt's `+model+` selector, as a query).

    Scale design: the closure is computed by iterative frontier
    expansion — the same join-per-round dataflow as BFS/PageRank
    (queries_graph.py), with min-depth dedup per round so path
    multiplicity never amplifies.  Registry DAGs are tiny, but the
    identical code runs on a million-edge column-level lineage graph:
    per-round cost is frontier ⋈ edges, rounds = graph depth.  The
    oracle restates reachability as a recursive CTE over the SAME
    ``Model.depends_on`` metadata, certifying the iterative algorithm.
    """
    edges = spark.createDataFrame(_lineage_edges(), "up string, down string")
    paths = edges.select("up", "down", F.lit(1).alias("depth"))
    closure = paths
    for _ in range(8):                       # ≥ max DAG depth
        nxt = (closure.alias("c")
               .join(edges.alias("e"), F.col("c.down") == F.col("e.up"))
               .select(F.col("c.up").alias("up"),
                       F.col("e.down").alias("down"),
                       (F.col("c.depth") + 1).alias("depth")))
        merged = (closure.unionByName(nxt)
                  .groupBy("up", "down")
                  .agg(F.min("depth").alias("depth")))
        if merged.exceptAll(closure).isEmpty():
            closure = merged
            break
        closure = merged
    return closure.select(F.col("up").alias("upstream"),
                          F.col("down").alias("downstream"),
                          F.col("depth").cast("long").alias("depth"))


# =========================================================================
# DAG catalog ([EXT] — the dbt-docs manifest as a relation)
# =========================================================================

def _catalog_rows() -> list[tuple]:
    return sorted((dag, m.qualified_name, m.layer, str(m.materialization),
                   len(m.depends_on), ",".join(sorted(m.depends_on)))
                  for dag, m in _production_models())


def _catalog_oracle() -> str:
    vals = ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v)
                        for v in r) + ")"
        for r in _catalog_rows())
    return f"""
SELECT * FROM (VALUES {vals})
  t(dag, model, layer, materialization, n_deps, deps)
"""


@q("pipeline_catalog", ("O1", "O5"), oracle=_catalog_oracle())
def pipeline_catalog(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The Engine's model catalog as a relation — the dbt-docs manifest
    analog: one row per model across both production DAGs with layer,
    materialization and dependency facts, queryable/joinable like any
    table (e.g. against the event log for per-model run times, or the
    lineage closure for impact-scoped docs).

    Both the query and its oracle derive from the live registry
    metadata, so catalog drift (a model added without docs, a
    materialization change) breaks the gate — docs-as-code, enforced.
    """
    return spark.createDataFrame(
        _catalog_rows(), "dag string, model string, layer string, "
                         "materialization string, n_deps int, deps string")


# =========================================================================
# Simulator source → silver contract (S-row closure: the reference's
# own simulator as a first-class engine source)
# =========================================================================

_SIM = dict(n_events=20000, n_devices=25)


def _sim_oracle() -> str:
    from .sources.simulator import QUALITY_FLAGS, SENSOR_TYPES
    types_arr = "[" + ", ".join(f"'{t}'" for t in SENSOR_TYPES) + "]"
    flags_arr = "[" + ", ".join(f"'{f}'" for f in QUALITY_FLAGS) + "]"
    h = "('0x' || substr(md5('{salt}:' || i), 1, 15))::BIGINT"
    return f"""
WITH idx AS (
  SELECT unnest(generate_series(0, {_SIM['n_events'] - 1})) AS i
), ev AS (
  SELECT i,
         {types_arr}[({h.format(salt='sensor')} % {len(SENSOR_TYPES)}) + 1]
           AS sensor_type,
         ({h.format(salt='val')} % 10000) / 100.0 AS value,
         {flags_arr}[({h.format(salt='flag')} % {len(QUALITY_FLAGS)}) + 1]
           AS quality_flag,
         TIMESTAMP '2024-01-01 00:00:00'
           + (i % 86400) * INTERVAL 1 SECOND AS ts
  FROM idx
)
SELECT sensor_type,
       CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM ev
WHERE lower(trim(quality_flag)) IN ('good', 'suspect')
GROUP BY 1, 2
"""


def _sim_silver_rollup(raw: "DataFrame") -> "DataFrame":
    """Simulator rows through the silver quality filter into the hourly
    per-sensor rollup."""
    silver = raw.filter(
        F.lower(F.trim("quality_flag")).isin("good", "suspect"))
    return (silver.groupBy("sensor_type", F.hour("timestamp").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .cast("long").alias("sum_cents")))


@q("simulator_silver_rollup", ("S1", "S2", "P5", "A6"),
   oracle=_sim_oracle())
def simulator_silver_rollup(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """The reference's device simulator as a Spark 4 Python DataSource
    (sources/simulator.py), run through the silver quality filter
    (lower(trim(quality_flag)) ∈ {good, suspect} —
    silver_iot_events.sql:22) into an hourly per-sensor rollup.

    The oracle REGENERATES the identical dataset in DuckDB from the
    same (n_events, md5-salt) recipe — proving the source is
    deterministic across engines, partition layouts and retries,
    which is what makes a generator source usable for reproducible
    backfills.  ``sf_dir`` is unused: the source is the data."""
    from .sources.simulator import register

    register(spark)
    return _sim_silver_rollup(spark.read.format("iot_simulator")
                              .option("n_events", _SIM["n_events"])
                              .option("n_devices", _SIM["n_devices"])
                              .load())


@q("simulator_streaming_rollup", ("S1", "ST1", "ST3", "A6"),
   oracle=_sim_oracle())
def simulator_streaming_rollup(spark: "SparkSession",
                               sf_dir: str) -> "DataFrame":
    """The same silver rollup fed by the simulator's STREAMING flavor:
    offset-tracked micro-batch generation (sources/simulator.py
    IoTSimulatorStreamReader) drained exactly-once into parquet via
    availableNow + checkpoint, then aggregated.  Hash-matching the
    batch oracle proves stream ingestion is byte-equivalent to the
    batch read of the same horizon — the streaming-table contract the
    reference gets from DLT (bronze_iot_events.sql:2,8-9)."""
    from .sources.simulator import register

    register(spark)
    out = scratch("sim_stream_")
    stream = (spark.readStream.format("iot_simulator")
              .option("max_events", _SIM["n_events"])
              .option("n_devices", _SIM["n_devices"]).load())
    run_stream_available_now(
        stream.writeStream.format("parquet")
        .option("path", out + "/data")
        .option("checkpointLocation", out + "/ck"), timeout_sec=180)
    return _sim_silver_rollup(spark.read.parquet(out + "/data"))


@q("expectations_quarantine", ("P9", "P7", "P8"), oracle="""
SELECT quality AS bucket, COUNT(*) AS n,
       CAST(NULL AS VARCHAR) AS failed
FROM (
  SELECT CASE WHEN lower(trim(quality_flag)) IN ('good', 'suspect')
              THEN 'kept' ELSE 'quarantined' END AS quality
  FROM (
    SELECT CASE WHEN event_id % 10 < 9 THEN 'good' ELSE 'BAD ' END
             AS quality_flag
    FROM events
  )
)
GROUP BY 1
""")
def expectations_quarantine(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """DLT-style expectation quarantine (engine/checks.py:
    expect_or_quarantine): the silver quality rule splits the feed into
    kept vs quarantined WITH audit columns instead of dropping rows —
    counts per bucket must match the relational restatement.  (The
    dirty flag is synthesized deterministically from event_id so the
    oracle can restate it; the real pipeline applies the same rule to
    the landing feed's organic dirt — FIXTURES.md §1.)"""
    from .engine.checks import expect_or_quarantine

    e = (load(spark, sf_dir, "events")
         .withColumn("quality_flag",
                     F.when(F.col("event_id") % 10 < 9, "good")
                     .otherwise("BAD ")))
    good, bad = expect_or_quarantine(
        e, "valid_quality_flag",
        F.lower(F.trim("quality_flag")).isin("good", "suspect"))
    kept = good.select(F.lit("kept").alias("bucket"))
    quar = bad.select(F.lit("quarantined").alias("bucket"))
    return (kept.unionByName(quar).groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.first(F.lit(None).cast("string")).alias("failed")))


@q("semantic_metrics_monthly", ("A1", "A4", "A7", "O2"), oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
         AS n_urgent
FROM orders
GROUP BY 1
""")
def semantic_metrics_monthly(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """The semantic metrics layer (engine/metrics.py — dbt-metrics
    parity): four declared metrics (exact-cents revenue, order count,
    distinct customers, URGENT-filtered count) compiled into ONE
    aggregate pass at month grain.  The filtered metric is a
    conditional aggregate inside the same pass — no extra scan — and
    the oracle restates each definition independently, certifying the
    compiler."""
    from .engine.metrics import Metric, metrics_frame

    o = load(spark, sf_dir, "orders")
    metrics = [
        Metric("revenue_cents", "sum",
               "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
        Metric("n_orders", "count"),
        Metric("n_customers", "count_distinct", "o_custkey"),
        Metric("n_urgent", "count", "1",
               where="o_orderpriority = '1-URGENT'"),
    ]
    return metrics_frame(o, metrics, time_col="o_orderdate",
                         grain="month")


@q("column_masking_policies", ("P2", "F1", "O2"), oracle="""
SELECT c_custkey AS customer,
       md5(c_name) AS name_masked,
       concat(repeat('*', greatest(length(c_mktsegment) - 4, 0)),
              substr(c_mktsegment, length(c_mktsegment) - 3, 4))
         AS segment_masked,
       CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS acctbal_bucket
FROM customer
""")
def column_masking_policies(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """Column-level masking policies at read (engine/masking.py — the
    Unity Catalog column-mask analog): name → md5 (join-preserving),
    phone → last-4 partial, acctbal → 100-unit bucket, all pure
    map-side projections.  A reader holding 'pii:read' gets the raw
    columns from the same one policy set — no second table, no data
    rewrite.  The oracle restates each masking expression."""
    from .engine.masking import MaskPolicy, apply_masks

    c = load(spark, sf_dir, "customer")
    policies = [
        MaskPolicy("c_name", "hash"),
        MaskPolicy("c_mktsegment", "partial", keep_chars=4),
        MaskPolicy("c_acctbal", "bucket", bucket_size=100),
    ]
    masked = apply_masks(c, policies, capabilities=())  # no grants
    return masked.select(
        F.col("c_custkey").alias("customer"),
        F.col("c_name").alias("name_masked"),
        F.col("c_mktsegment").alias("segment_masked"),
        F.col("c_acctbal").alias("acctbal_bucket"))


_FMT_ORACLE = """
SELECT o_orderpriority AS priority, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders GROUP BY 1
"""


@q("orc_roundtrip_rollup", ("S2", "A1"), oracle=_FMT_ORACLE)
def orc_roundtrip_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ORC landing-format path (sources/files.py read_file_batch):
    orders round-trip through ORC (zlib) and aggregate — the gate that
    the non-parquet columnar path preserves types and values exactly.
    ORC carries its own schema, so the read needs none."""
    from .sources.files import read_file_batch

    o = load(spark, sf_dir, "orders")
    land = scratch("orc_rt_") + "/orders_orc"
    o.write.mode("overwrite").format("orc").save(land)
    back = read_file_batch(spark, land, "orc")
    return (back.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .cast("long").alias("revenue_cents")))


@q("csv_roundtrip_rollup", ("S2", "A1"), oracle=_FMT_ORACLE)
def csv_roundtrip_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CSV landing-format path with the infer-once discipline
    (sources/files.py infer_csv_schema → read_csv_batch): orders
    round-trip through headered CSV, the schema is inferred from one
    sample pass and REUSED (the Auto Loader schema-location pattern —
    at 100 TB you never re-infer per file), then the typed read must
    reproduce the parquet numbers exactly.  Timestamps ride ISO-8601
    text; money survives because the rollup quantizes to cents."""
    from .sources.files import infer_csv_schema, read_csv_batch

    o = load(spark, sf_dir, "orders")
    land = scratch("csv_rt_") + "/orders_csv"
    (o.write.mode("overwrite").option("header", True)
     .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(land))
    schema = infer_csv_schema(spark, land, land + "/_schema.json")
    back = read_csv_batch(spark, land, schema=schema)
    return (back.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .cast("long").alias("revenue_cents")))


@q("sql_project_pipeline", ("O1", "O2", "O3", "O4", "P1", "P5", "A1"),
   oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
WHERE value IS NOT NULL AND value >= 1
GROUP BY 1
""")
def sql_project_pipeline(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """A dbt-SQL project (engine/sqlproject.py) run end-to-end: three
    model FILES in the reference's dialect — config blocks, source(),
    STREAM(ref()), var() — written to disk, loaded into a Registry
    (DAG derived from the refs), materialized by the Engine, and the
    gold rollup hash-matched against the restated SQL.  This gates the
    migration path: a user's existing dbt model tree runs on this
    engine with their files, not a rewrite."""
    import textwrap
    from pathlib import Path

    from .engine import Engine
    from .engine.sqlproject import load_sql_project

    root = Path(scratch("sqlproj_")) / "models"
    (root / "bronze").mkdir(parents=True)
    (root / "silver").mkdir()
    (root / "gold").mkdir()
    (root / "bronze" / "bronze_events.sql").write_text(textwrap.dedent("""
        {{ config(materialized='streaming_table',
                  meta = {'target_schema': 'bronze'}) }}
        select * from {{ source('landing', 'events') }}
        ;
    """))
    (root / "silver" / "silver_events.sql").write_text(textwrap.dedent("""
        {{ config(materialized='table') }}
        with src as (select * from STREAM({{ ref('bronze_events') }}))
        select event_type, value from src
        where value is not null and value >= {{ var('min_value', 1) }}
    """))
    (root / "gold" / "gold_event_rollup.sql").write_text(textwrap.dedent("""
        {{ config(materialized='table',
                  meta = {'target_schema': 'gold'}) }}
        select event_type, count(*) as n,
               cast(sum(cast(round(value * 100) as bigint)) as bigint)
                 as value_cents
        from {{ ref('silver_events') }}
        group by event_type
    """))

    load(spark, sf_dir, "events").createOrReplaceTempView("landing__events")
    reg = load_sql_project(root, config_vars={"min_value": 1})
    eng = Engine(spark, reg,
                 warehouse=scratch("sqlproj_wh_"))
    eng.run()
    return eng.table("gold.gold_event_rollup")


# =========================================================================
# Grants / governance (01-setup-sp-permissions.sql parity)
# =========================================================================

#: Reference-shaped grant script (same statement dialect as
#: 01-setup-sp-permissions.sql:1-36, generic principals): an ETL
#: service principal with the reference's full grant set, a gold-only
#: analyst, a catalog-level reader (inheritance path), and two
#: mis-configured principals whose data grants are dead without the
#: USE CATALOG / USE SCHEMA chain.
_GRANTS_SETUP_SQL = """
-- ETL service principal: the reference's grant set
GRANT USE CATALOG ON CATALOG dev_catalog TO `etl_sp`;
GRANT CREATE SCHEMA ON CATALOG dev_catalog TO `etl_sp`;
GRANT USE SCHEMA, CREATE TABLE, MODIFY, SELECT ON SCHEMA dev_catalog.bronze TO `etl_sp`;
GRANT USE SCHEMA, CREATE TABLE, MODIFY, SELECT ON SCHEMA dev_catalog.silver TO `etl_sp`;
GRANT USE SCHEMA, CREATE TABLE, MODIFY, SELECT ON SCHEMA dev_catalog.gold TO `etl_sp`;
GRANT READ VOLUME ON VOLUME dev_catalog.landing.vol01 TO `etl_sp`;

-- analyst: gold read-only, schema-scoped
GRANT USE CATALOG ON CATALOG dev_catalog TO `analyst`;
GRANT USE SCHEMA ON SCHEMA dev_catalog.gold TO `analyst`;
GRANT SELECT ON SCHEMA dev_catalog.gold TO `analyst`;

-- ml_reader: SELECT granted at CATALOG level (inherits to all schemas)
GRANT USE CATALOG ON CATALOG dev_catalog TO `ml_reader`;
GRANT USE SCHEMA ON CATALOG dev_catalog TO `ml_reader`;
GRANT SELECT ON CATALOG dev_catalog TO `ml_reader`;

-- auditor: SELECT but NO USE CATALOG -> every access denied
GRANT SELECT ON SCHEMA dev_catalog.bronze TO `auditor`;

-- intern: schema grants but NO USE CATALOG -> every access denied
GRANT USE SCHEMA, SELECT ON SCHEMA dev_catalog.silver TO `intern`;
"""

_GRANT_CAT = "dev_catalog"
_GRANT_SCHEMAS = ("bronze", "silver", "gold")
_GRANT_PRIVS = ("SELECT", "MODIFY", "CREATE TABLE")


def _grant_oracle() -> str:
    """Independent relational restatement of the UC decision rule over
    the SAME grant rows (emitted as VALUES from the parsed registry, so
    both engines see identical grants while the inheritance + USE-chain
    semantics are computed twice, once per engine)."""
    from .engine.grants import GrantRegistry

    reg = GrantRegistry()
    reg.parse_sql(_GRANTS_SETUP_SQL)
    rows = ",\n    ".join(
        f"('{g.principal}', '{g.privilege}', '{g.securable_type}', "
        f"'{g.securable}')" for g in reg.grants)
    schemas = ", ".join(f"('{s}')" for s in _GRANT_SCHEMAS)
    privs = ", ".join(f"('{p}')" for p in _GRANT_PRIVS)
    return f"""
WITH grants(principal, privilege, stype, securable) AS (VALUES
    {rows}
), schemas(schema_name) AS (VALUES {schemas}),
privs(privilege) AS (VALUES {privs}),
principals AS (SELECT DISTINCT principal FROM grants),
matrix AS (
  SELECT pr.principal, s.schema_name, v.privilege
  FROM principals pr, schemas s, privs v
)
SELECT m.principal, m.schema_name, m.privilege,
       (EXISTS (SELECT 1 FROM grants g WHERE g.principal = m.principal
                  AND g.privilege = m.privilege
                  AND (g.securable = '{_GRANT_CAT}' OR
                       g.securable = '{_GRANT_CAT}.' || m.schema_name))
        AND EXISTS (SELECT 1 FROM grants g WHERE g.principal = m.principal
                  AND g.privilege = 'USE CATALOG'
                  AND g.securable = '{_GRANT_CAT}')
        AND EXISTS (SELECT 1 FROM grants g WHERE g.principal = m.principal
                  AND g.privilege = 'USE SCHEMA'
                  AND (g.securable = '{_GRANT_CAT}' OR
                       g.securable = '{_GRANT_CAT}.' || m.schema_name)))
       AS allowed
FROM matrix m
"""


@q("grant_effective_matrix", ("O2",), oracle=_grant_oracle())
def grant_effective_matrix(spark: "SparkSession",
                           sf_dir: str) -> "DataFrame":
    """Effective data-privilege matrix under Unity-Catalog semantics
    (engine/grants.py — the 01-setup-sp-permissions.sql surface): for
    every (principal, schema, privilege) cell, whether the privilege is
    effectively held — granted directly on the schema OR inherited
    from a catalog-level grant, AND gated by the USE CATALOG + USE
    SCHEMA chain (a SELECT without USE CATALOG is dead, the reason the
    reference's setup script grants both).  The grant rows come from
    parsing the reference-dialect GRANT script (the parser is in the
    gated path); the Spark side computes the rule relationally over
    control-plane-sized literal relations (principals × 3 schemas × 3
    privileges — the crossJoins are bounded by the grant script, never
    by data).
    """
    from .engine.grants import GrantRegistry

    reg = GrantRegistry()
    reg.parse_sql(_GRANTS_SETUP_SQL)
    # The literal relations are built via SQL VALUES, NOT createDataFrame:
    # VALUES becomes a Catalyst LocalRelation that the optimizer folds
    # through joins driver-side (the whole matrix is constant-foldable),
    # whereas createDataFrame yields an RDD-backed scan whose
    # CartesianProduct pays ~10 s of task scheduling for 45 rows
    # (measured) — control-plane queries should never launch wide jobs.
    def values(cols: str, rows: "list[tuple]") -> "DataFrame":
        body = ", ".join(
            "(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows)
        return spark.sql(f"SELECT * FROM VALUES {body} AS t({cols})")

    g = values("principal, privilege, securable_type, securable",
               [(x.principal, x.privilege, x.securable_type, x.securable)
                for x in reg.grants])
    sch = values("schema_name", [(s,) for s in _GRANT_SCHEMAS])
    privs = values("privilege", [(p,) for p in _GRANT_PRIVS])
    matrix = (g.select("principal").distinct()
              .crossJoin(sch).crossJoin(privs))

    # grants that apply per schema: direct schema grants + catalog-level
    # grants expanded to every schema (UC inheritance)
    cat_level = g.filter(F.col("securable") == _GRANT_CAT) \
                 .select("principal", "privilege").crossJoin(sch)
    direct = (g.filter(F.col("securable").startswith(_GRANT_CAT + "."))
              .select("principal", "privilege",
                      F.element_at(F.split("securable", "\\."), 2)
                      .alias("schema_name")))
    applies = cat_level.unionByName(direct).distinct()

    has = applies.withColumn("_has", F.lit(1))
    use_cat = (applies.filter(F.col("privilege") == "USE CATALOG")
               .select("principal").distinct().withColumn("_uc", F.lit(1)))
    use_sch = (applies.filter(F.col("privilege") == "USE SCHEMA")
               .select("principal", "schema_name").distinct()
               .withColumn("_us", F.lit(1)))
    return (matrix
            .join(has, ["principal", "schema_name", "privilege"], "left")
            .join(use_cat, ["principal"], "left")
            .join(use_sch, ["principal", "schema_name"], "left")
            .select("principal", "schema_name", "privilege",
                    (F.col("_has").isNotNull() & F.col("_uc").isNotNull()
                     & F.col("_us").isNotNull()).alias("allowed")))
