"""The reference's five models, re-expressed as DataFrame builders.

Reference sources (under /root/reference/models):

- bronze.iot_events   ← bronze/iot_events/bronze_iot_events.sql:1-15
- silver.iot_events   ← silver/iot_events/silver_iot_events.sql:1-22
- gold.dim_locations  ← gold/core/dim_locations.sql:1-12
- gold.dim_date       ← gold/core/dim_date.sql:1-16
- gold.fact_iot_events← gold/core/fact_iot_events.sql:1-25

Materializations follow dbt_project.yml:9-19 + per-model overrides:
bronze/silver are streaming tables (batch mode available for tests),
gold is batch tables.  Silver reads bronze with ``ctx.stream`` (⇔
``STREAM(ref(...))``) in both modes; the engine owns the stream's
source path, the checkpoint and bronze's schema store.  The landing
path comes from the config var ``iot_events_path`` (⇔
dbt_project.yml:6-7 ``{{ var("iot_events_path") }}``).

Scale notes: silver's filter + 7-column projection push down to the
bronze parquet scan (Catalyst PushDownPredicates/ColumnPruning);
fact's two dim joins are explicitly broadcast — dims are tiny (one row
per location / per date) while the fact side is the 100 TB table.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..engine.model import ModelContext, Registry, model
from ..engine import checks as C
from ..sources.json_source import read_json_batch, read_json_stream

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame
    from ..engine.runner import Engine

#: silver contract (silver_iot_events.sql:13-21)
SILVER_COLUMNS = ("device_id", "location_id", "timestamp", "sensor_type",
                  "quality_flag", "unit", "value")


def build_registry(streaming: bool = True) -> Registry:
    """Construct the 5-model DAG.  ``streaming=False`` swaps bronze/silver
    to batch tables (same logical plan) for fast tests; the reference's
    own runs are triggered-mode streams (README_DBT.md:213)."""
    r = Registry()
    ingest_mat = "streaming_table" if streaming else "table"

    @model(r, name="iot_events", layer="bronze", materialization=ingest_mat,
           description="Raw JSON landing ingest, schema inferred "
                       "(bronze_iot_events.sql:10-15)")
    def bronze_iot_events(ctx: ModelContext) -> "DataFrame":
        path = ctx.var("iot_events_path")
        if streaming:
            df = read_json_stream(ctx.spark, path,
                                  schema_store=ctx.state_path("schema"))
        else:
            df = read_json_batch(ctx.spark, path)
        # P1: SELECT * passthrough (bronze_iot_events.sql:10-11); add the
        # ingest-date partition column (S9, README_DBT.md:99).
        return df.select("*").withColumn("ingest_date", F.current_date())

    @model(r, name="iot_events", layer="silver", materialization=ingest_mat,
           depends_on=("bronze.iot_events",),
           # ENFORCED contract (dbt contract:enforced parity): the
           # reference declares these columns + types in
           # iot_events_models.yml:8-32 / silver_iot_events.sql:13-21
           contract={"device_id": "string", "location_id": "string",
                     "timestamp": "timestamp", "sensor_type": "string",
                     "quality_flag": "string", "unit": "string",
                     "value": "double"},
           description="Cleansed 7-column contract "
                       "(silver_iot_events.sql:13-22)")
    def silver_iot_events(ctx: ModelContext) -> "DataFrame":
        # S3: incremental table-to-table read (silver_iot_events.sql:10-12
        # `STREAM(ref('bronze_iot_events'))`); a batch ref in batch mode
        return (
            ctx.stream("bronze.iot_events")
            .select(                                    # P2/P3 projection+cast
                F.col("device_id"),
                F.col("location_id"),
                F.col("timestamp").cast("timestamp").alias("timestamp"),  # F1
                F.col("sensor_type"),
                F.lower(F.trim(F.col("quality_flag"))).alias("quality_flag"),
                F.col("unit"),
                F.col("value").cast("double").alias("value"))
            # P5: where lower(trim(quality_flag)) in ('good','suspect')
            # (silver_iot_events.sql:22) — normalization applied above so
            # the stored flag is canonical, matching the accepted_values
            # test post-silver (iot_events_models.yml:28-32).
            .filter(F.col("quality_flag").isin("good", "suspect")))

    @model(r, name="dim_locations", layer="gold", materialization="table",
           depends_on=("silver.iot_events",),
           description="Distinct locations (dim_locations.sql:9-12)")
    def dim_locations(ctx: ModelContext) -> "DataFrame":
        # A2: GROUP BY as DISTINCT
        return ctx.ref("silver.iot_events").select("location_id").distinct()

    @model(r, name="dim_date", layer="gold", materialization="table",
           depends_on=("silver.iot_events",),
           description="Distinct event dates + parts (dim_date.sql:8-16)")
    def dim_date(ctx: ModelContext) -> "DataFrame":
        # A3: reference SQL mixes DISTINCT with a partial GROUP BY
        # (non-ANSI); normalized to distinct-over-projection — equivalent
        # under the date→(year,month,day) functional dependency
        # (SURVEY §7.3.3).
        ts = F.col("timestamp")
        return (ctx.ref("silver.iot_events")
                .select(F.to_date(ts).alias("date"),          # F2
                        F.year(ts).alias("year"),             # F3
                        F.month(ts).alias("month"),
                        F.dayofmonth(ts).alias("day"))
                .distinct())

    @model(r, name="fact_iot_events", layer="gold", materialization="table",
           depends_on=("silver.iot_events", "gold.dim_locations",
                       "gold.dim_date"),
           description="Star-schema fact (fact_iot_events.sql:15-25)")
    def fact_iot_events(ctx: ModelContext) -> "DataFrame":
        evt = ctx.ref("silver.iot_events")
        loc = ctx.ref("gold.dim_locations")
        dd = ctx.ref("gold.dim_date")
        joined = (
            evt
            # J1: left outer equi join to dim_locations
            # (fact_iot_events.sql:23); dims are small → broadcast, no
            # shuffle of the 100 TB fact side.
            .join(F.broadcast(loc), on="location_id", how="left")
            # J2: left outer join on computed key cast(ts as date)=d.date
            # (fact_iot_events.sql:24)
            .join(F.broadcast(dd),
                  F.to_date(evt["timestamp"]) == dd["date"], how="left"))
        # A1: 5-key GROUP BY + AVG (fact_iot_events.sql:15-22) — two-phase
        # hash aggregate; partial agg runs map-side before the shuffle.
        # avg accumulates in exact decimal so the result is identical
        # across partitionings/re-runs (double addition is not
        # associative; a re-shuffled recompute would otherwise drift in
        # the last ulp) — same policy as the incremental MV state.
        return (joined.groupBy(evt["location_id"], "sensor_type",
                               "quality_flag", dd["year"], dd["month"])
                .agg((F.sum(F.col("value").cast("decimal(25,6)"))
                      .cast("double") / F.count("value"))
                     .alias("avg_value")))

    return r


def attach_reference_checks(engine: "Engine") -> None:
    """Register the reference's exact test set (SURVEY §5.1)."""
    for col in ("device_id", "location_id", "sensor_type", "quality_flag"):
        engine.add_check(C.not_null("silver.iot_events", col))    # yml:8-27
    engine.add_check(C.accepted_values(
        "silver.iot_events", "sensor_type",
        ["sensor_type", "motion", "temperature", "pressure", "humidity"]))
    engine.add_check(C.accepted_values(
        "silver.iot_events", "quality_flag", ["good", "suspect"]))
    for rel, col in (("gold.dim_locations", "location_id"),
                     ("gold.dim_date", "date")):
        engine.add_check(C.not_null(rel, col))     # _gold_core_models.yml
        engine.add_check(C.unique(rel, col))
    # singular test: per-device sum(value) must be non-negative
    # (tests/pos_sensor_values.sql:1-6)
    engine.add_check(C.singular(
        "pos_sensor_values", "silver.iot_events",
        lambda df: (df.groupBy("device_id")
                    .agg(F.sum("value").alias("value"))
                    .filter(F.col("value") < 0))))
