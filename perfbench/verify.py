"""Correctness checks.  The oracle side is computed outside every timed
window; the Spark side of a query check doubles as its warm-up run.

- Query workloads: each query's result must match its DuckDB oracle
  twin through the package's stream digests (``oraclehash``): same
  column names and types, same row count, same order-insensitive value
  digest.  The Spark result is fetched as Arrow and digested on the
  driver (results here are small), which keeps Python workers out of
  the set-up time.  A query without an oracle twin is only run for its row
  count, which every timed run of it must then reproduce.
- ``iot_ingest``: gold ``fact_iot_events`` must equal a DuckDB
  recomputation from the generator's own events, and silver must hold
  exactly the generated good/suspect events (no loss, no duplicates).
"""

from __future__ import annotations

import duckdb

from iot_simulator_datalake_spark.oraclehash import (
    _digest_add, _digest_new, _digests_differ, _duck_digest,
    _stream_supported, duck_to_spark)
from iot_simulator_datalake_spark.queries import TABLES


def duck_lake(lake_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{lake_dir}/{t}.parquet'")
    return con


class Oracle:
    """The DuckDB twin of one query, evaluated once up front."""

    def __init__(self, con, sql: str):
        rel = con.sql(sql)
        self.columns = list(rel.columns)
        self.types = list(rel.types)
        self.dtypes = dict(zip(self.columns, map(str, self.types)))
        self.digest = None
        self.rows = None
        if _stream_supported([], self.types):
            self.digest = _duck_digest(rel)
        else:
            self.rows = sorted(map(repr, rel.arrow().to_pylist()))

    def check(self, df) -> tuple[list[str], int]:
        """(problems, row count) of a Spark result against this oracle;
        runs ``df`` once unless its schema already disagrees."""
        problems = []
        if sorted(df.columns) != sorted(self.columns):
            problems.append(f"columns spark={sorted(df.columns)} "
                            f"duck={sorted(self.columns)}")
        for col, styp in df.dtypes:
            want = duck_to_spark(self.dtypes.get(col, "MISSING"))
            if want != styp:
                problems.append(f"dtype {col}: spark={styp} duck={want}")
        if problems:
            return problems, None
        tbl = df.toArrow()
        if self.digest is not None and _stream_supported(df.dtypes,
                                                         self.types):
            sdig = _digest_new()
            _digest_add(sdig, tbl)
            return _digests_differ(sdig, self.digest), tbl.num_rows
        got = sorted(map(repr, tbl.to_pylist()))
        if self.rows is None or got != self.rows:
            return [f"values differ ({len(got)} rows)"], len(got)
        return [], len(got)


#: the gold fact recomputed from raw generator events (the semantics of
#: the pipeline's silver filter + fact aggregate)
FACT_SQL = """
WITH silver AS (
  SELECT location_id, sensor_type, lower(trim(quality_flag)) AS quality_flag,
         CAST(ts AS TIMESTAMP) AS ts, value
  FROM raw
  WHERE lower(trim(quality_flag)) IN ('good', 'suspect')
)
SELECT location_id, sensor_type, quality_flag,
       year(ts) AS year, month(ts) AS month,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(value)
         AS avg_value
FROM silver GROUP BY ALL
"""


def iot_expected(rows: list[tuple]) -> tuple[int, set]:
    """(silver row count, gold fact rows) expected from raw generator
    tuples ``(event_idx, device, location, sensor, value, unit, flag,
    ts)``."""
    import pandas as pd
    raw = pd.DataFrame(rows, columns=["event_idx", "device_id",
                                      "location_id", "sensor_type",
                                      "value", "unit", "quality_flag",
                                      "ts"])
    con = duckdb.connect()
    con.register("raw", raw)
    kept = con.sql("SELECT count(*) FROM raw WHERE lower(trim(quality_flag))"
                   " IN ('good', 'suspect')").fetchone()[0]
    fact = {tuple(r) for r in con.sql(FACT_SQL).fetchall()}
    con.close()
    return int(kept), fact


def iot_problems(n_silver: int, gold: list[tuple],
                 rows: list[tuple]) -> list[str]:
    """Problems in the lake's silver row count and gold fact rows versus
    the generator's events (empty list: correct)."""
    kept, fact = iot_expected(rows)
    problems = []
    if n_silver != kept:
        problems.append(f"silver rows {n_silver} != generated good/suspect "
                        f"events {kept}")
    got = set(gold)
    if len(gold) != len(got) or got != fact:
        problems.append(f"gold fact differs from the recomputation "
                        f"({len(got ^ fact)} rows differ)")
    return problems


def iot_check(engine, rows: list[tuple]) -> list[str]:
    gold = engine.table("gold.fact_iot_events").select(
        "location_id", "sensor_type", "quality_flag", "year", "month",
        "avg_value").collect()
    return iot_problems(engine.table("silver.iot_events").count(),
                        [tuple(r) for r in gold], rows)
