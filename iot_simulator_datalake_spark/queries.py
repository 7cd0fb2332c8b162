"""Declared query surface: one named query per SURVEY.md §2 operator.

Each query is a PySpark builder ``(spark, sf_dir) -> DataFrame`` over the
driver's TPC-H-ish parquet tables, with (where SQL-expressible) a DuckDB
oracle twin in ``ORACLES``.  The driver compares row-count + schema +
order-insensitive value hash at sf0.01 (see __spark_entry__.py).

Float determinism policy (SURVEY §7.3.5): double summation is not
associative, so any oracle-checked aggregate over doubles goes through
``DECIMAL(25,4)`` — the inputs are money-like 2-dp values, the decimal
sum is exact and engine-independent, and the final value is cast back to
double (identical bits both sides).  Averages are computed as
``round(cast(sum_dec as double) / count, 6)`` so both engines divide the
same two numbers.  Plain min/max/count need no such care.

Column-name policy: every computed column is aliased identically in the
Spark builder and the oracle SQL (driver sorts columns by name before
hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .operators.hints import maybe_broadcast
from .session import memo, tune_session

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def raw_schema(spark: "SparkSession", sf_dir: str, name: str):
    """RAW parquet schema of one driver table (pre any ts conversion),
    memoized per path (optimization r11).  Every bare
    ``spark.read.parquet`` runs a 1-task footer-read JOB to infer the
    schema; a 6-table query paid six serial ~35 ms jobs per build, and
    an explicit schema skips them.  METADATA only (what a catalog would
    serve — the driver's tables are immutable fixtures); the first read
    still infers from the footer, so :func:`load`'s nanosAsLong/NTZ
    dtype branches see exactly what bare inference would see."""
    path = f"{sf_dir}/{name}.parquet"
    return memo(path, lambda: spark.read.parquet(path).schema)


def load(spark: "SparkSession", sf_dir: str, name: str) -> "DataFrame":
    """Read one driver table; parquet scan → pushdown + column pruning."""
    # Pin UTC etc. even on a driver-provided session — but only ONCE
    # per session object (optimization r11): tune_session is ~9 py4j
    # conf.set round-trips, and a 6-table query paid them per load.
    # Nothing in the repo un-sets a RUNTIME_CONFS key mid-session (the
    # conf-mutating demo queries touch only their own optional confs
    # and restore them), so one application per session is the same
    # contract; a fresh wrapper object merely re-tunes harmlessly.
    if not getattr(spark, "_sg_tuned", False):
        tune_session(spark)
        try:
            spark._sg_tuned = True
        except Exception:  # pragma: no cover - frozen session wrapper
            pass
    df = (spark.read.schema(raw_schema(spark, sf_dir, name))
          .parquet(f"{sf_dir}/{name}.parquet"))
    return normalize_ts(spark, df, name)


def normalize_ts(spark: "SparkSession", df: "DataFrame",
                 name: str) -> "DataFrame":
    """``events.ts`` as a µs instant, for a batch or a streaming read of
    the raw parquet (:func:`load` and every stream over it in
    ``queries_streaming``); every other table passes through
    unchanged."""
    dtype = dict(df.dtypes).get("ts") if name == "events" else None
    if dtype == "bigint":
        # TIMESTAMP(NANOS) parquet read via nanosAsLong → convert to µs
        # timestamp exactly like DuckDB does (truncating division).
        df = df.withColumn("ts", F.timestamp_micros(
            F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # µs parquet inferred as NTZ (the session was built before
        # tune_session could pin inferTimestampNTZ=false).  The NTZ→LTZ
        # cast reinterprets the wall clock in the SESSION timezone, so it
        # is only value-preserving when that timezone is UTC — and in
        # this degraded mode the UTC pin itself may have failed too.
        # Verify rather than assume (ADVICE r1): read the live conf and
        # convert through the actual zone, raising only if even that is
        # unavailable.  The NTZ→LTZ cast lands at (wall − offset(tz));
        # from_utc_timestamp adds offset(tz) back, recovering the
        # instant whose UTC wall clock equals the stored value —
        # verified empirically for non-UTC sessions; identity under UTC.
        tz = spark.conf.get("spark.sql.session.timeZone", None)
        if tz is None:
            raise RuntimeError(
                "events.ts inferred as TIMESTAMP_NTZ and the session "
                "timezone is unknown; cannot cast to an instant safely. "
                "Set spark.sql.session.timeZone=UTC (tune_session does "
                "this) and retry.")
        df = df.withColumn(
            "ts", F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz))
    return df


# exact decimal sum of a money-like double column, surfaced as double
def dsum(col) -> F.Column:
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast("decimal(25,4)")).cast("double")


def davg(col) -> F.Column:
    """Deterministic avg as a double: floor((exact decimal sum × 1e6)
    / count) integer micro-units, divided ONCE by 1e6.0 at the end —
    both engines floor the same exact integers and then perform one
    identical IEEE division, so the bits match.  (The previous 6-dp
    F.round of the raw double quotient was the HALF_UP-vs-
    scaled-double cross-engine class the repo-wide determinism sweep
    eliminated everywhere else; it survived here as documented policy
    until round 7 closed it too.)  Floor division uses the mod
    identity — POSITIVE operands only (Spark % truncates, DuckDB %
    floors on negatives); every caller aggregates money/quantity/value
    columns ≥ 0."""
    c = col if not isinstance(col, str) else F.col(col)
    num = (F.sum(c.cast("decimal(25,4)")) * F.lit(1_000_000)) \
        .cast("decimal(38,0)")
    cnt = F.count(c)
    micro = ((num - num % cnt) / cnt).cast("long")
    return micro.cast("double") / F.lit(1_000_000.0)


#: oracle-side twins of dsum/davg (DuckDB SQL fragments)
def osum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(25,4))) AS DOUBLE)"


def oavg(col: str) -> str:
    return (f"CAST(CAST(SUM(CAST({col} AS DECIMAL(25,4))) * 1000000 "
            f"AS HUGEINT) // COUNT({col}) AS BIGINT) / 1000000.0")


@dataclass
class QueryDef:
    name: str
    fn: Callable[["SparkSession", str], "DataFrame"]
    oracle: str | None       # DuckDB SQL, or None → rows-only check
    operators: tuple[str, ...]  # SURVEY §2 rows exercised
    bench: bool = False      # include in bench.py headline set


REGISTRY: dict[str, QueryDef] = {}


def q(name: str, operators: tuple[str, ...], oracle: str | None = None,
      bench: bool = False):
    def wrap(fn):
        if name in REGISTRY:
            # 20 modules register into one dict: a silent overwrite
            # would drop the import-order loser from every gate
            # (check_oracle, bench, plan lint) with all reports still
            # showing N/N green — coverage lost with zero signal
            raise ValueError(f"duplicate query name {name!r} "
                             f"(already registered)")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle,
                                  operators=operators, bench=bench)
        return fn
    return wrap


# =========================================================================
# Flagship — the reference's gold fact query shape (A1/J1/J2/F2/F3/F7):
# fact_iot_events.sql:15-25 mapped onto lineitem⋈orders⋈customer⋈nation.
# =========================================================================

@q("fact_avg_by_nation_month", ("A1", "J1", "J2", "F2", "F3", "F7"), bench=True,
   oracle="""
SELECT n.n_name AS nation,
       EXTRACT(year FROM o.o_orderdate)::INT AS year,
       EXTRACT(month FROM o.o_orderdate)::INT AS month,
       {oavg_price} AS avg_price,
       COUNT(l.l_extendedprice) AS n_items
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
""".replace("{oavg_price}", oavg("l.l_extendedprice")))
def fact_avg_by_nation_month(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Flagship star join + 3-key avg rollup.

    Scale design: orders→customer→nation are the dim side; customer and
    nation are broadcast (no shuffle of lineitem for those joins), the
    lineitem⋈orders join shuffles on orderkey once, and the aggregate is
    a two-phase hash agg (map-side partials before the shuffle).
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (li
            .join(o, li["l_orderkey"] == o["o_orderkey"], "left")
            .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"], "left")
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
            .groupBy(n["n_name"].alias("nation"),
                     F.year(o["o_orderdate"]).alias("year"),
                     F.month(o["o_orderdate"]).alias("month"))
            .agg(davg("l_extendedprice").alias("avg_price"),
                 F.count("l_extendedprice").alias("n_items")))


# =========================================================================
# Projections / filters (P2/P3/P4/P5/P6/P7/P8, F1-F6)
# =========================================================================

@q("silver_projection_cast", ("P2", "P3", "P4", "F1", "F2", "F3"),
   oracle="""
SELECT o_orderkey AS order_id,
       o_orderdate AS order_ts,
       CAST(o_orderdate AS DATE) AS order_date,
       EXTRACT(year FROM o_orderdate)::INT AS year,
       EXTRACT(month FROM o_orderdate)::INT AS month,
       EXTRACT(day FROM o_orderdate)::INT AS day,
       o_totalprice AS total_price
FROM orders
""")
def silver_projection_cast(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Silver-contract shape: explicit projection + casts + computed
    date parts (silver_iot_events.sql:13-21, dim_date.sql:10-13)."""
    o = load(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        ts.cast("timestamp").alias("order_ts"),
        ts.cast("date").alias("order_date"),
        F.year(ts).alias("year"),
        F.month(ts).alias("month"),
        F.dayofmonth(ts).alias("day"),
        F.col("o_totalprice").alias("total_price"))


@q("normalized_in_filter", ("P5", "F4", "F5", "F6"), bench=True,
   oracle="""
SELECT event_id, user_id,
       LOWER(TRIM(event_type)) AS event_type, value
FROM events
WHERE LOWER(TRIM(event_type)) IN ('click', 'view', 'purchase')
""")
def normalized_in_filter(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The silver quality-flag gate (silver_iot_events.sql:22):
    lower(trim(col)) IN (...) — predicate stays JVM-side and pushes the
    IO down to a 4-column parquet scan."""
    e = load(spark, sf_dir, "events")
    norm = F.lower(F.trim(F.col("event_type")))
    return (e.select("event_id", "user_id", norm.alias("event_type"), "value")
            .filter(norm.isin("click", "view", "purchase")))


@q("null_violations", ("P7",),
   oracle="SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IS NULL")
def null_violations(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """not_null generic test compiled form (iot_events_models.yml:9-27)."""
    o = load(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey")
            .filter(F.col("o_custkey").isNull()))


@q("accepted_values_violations", ("P8",),
   oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag
FROM lineitem
WHERE l_returnflag NOT IN ('A', 'N') AND l_returnflag IS NOT NULL
""")
def accepted_values_violations(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """accepted_values test compiled form (iot_events_models.yml:17-32):
    rows whose value ∉ allow-list."""
    li = load(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", "l_returnflag")
            .filter((~F.col("l_returnflag").isin("A", "N"))
                    & F.col("l_returnflag").isNotNull()))


# =========================================================================
# Aggregations (A2/A3/A4/A5/A6/A7)
# =========================================================================

@q("distinct_dim", ("A2",),
   oracle="SELECT DISTINCT c_nationkey AS location_key FROM customer")
def distinct_dim(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """dim_locations: GROUP BY as DISTINCT (dim_locations.sql:9-12)."""
    c = load(spark, sf_dir, "customer")
    return c.select(F.col("c_nationkey").alias("location_key")).distinct()


@q("distinct_date_dim", ("A3", "P4", "F2", "F3"),
   oracle="""
SELECT DISTINCT CAST(o_orderdate AS DATE) AS date,
       EXTRACT(year FROM o_orderdate)::INT AS year,
       EXTRACT(month FROM o_orderdate)::INT AS month,
       EXTRACT(day FROM o_orderdate)::INT AS day
FROM orders
""")
def distinct_date_dim(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """dim_date normalized form (dim_date.sql:8-16; SURVEY §7.3.3 — the
    reference SQL's DISTINCT+partial-GROUP-BY is non-ANSI, normalized to
    distinct-over-projection)."""
    o = load(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    return (o.select(ts.cast("date").alias("date"),
                     F.year(ts).alias("year"),
                     F.month(ts).alias("month"),
                     F.dayofmonth(ts).alias("day"))
            .distinct())


@q("sum_having", ("A4", "P6", "F7"),
   oracle=f"""
SELECT l_suppkey AS supp, {osum('l_quantity')} AS total_qty
FROM lineitem
GROUP BY l_suppkey
HAVING {osum('l_quantity')} > 3000
""")
def sum_having(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SUM + GROUP BY + HAVING (tests/pos_sensor_values.sql:1-6 shape —
    post-aggregation filter)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_suppkey").alias("supp"))
            .agg(dsum("l_quantity").alias("total_qty"))
            .filter(F.col("total_qty") > 3000))


@q("uniqueness_violations", ("A5",),
   oracle="""
SELECT c_nationkey AS key, COUNT(*) AS n
FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 1
""")
def uniqueness_violations(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """unique generic test compiled form (_gold_core_models.yml:9-22)."""
    c = load(spark, sf_dir, "customer")
    return (c.groupBy(F.col("c_nationkey").alias("key"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1))


@q("hourly_rollup", ("A6", "F7"), bench=True,
   oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS hour, user_id,
       COUNT(*) AS n_events,
       {osum('value')} AS total_value,
       {oavg('value')} AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
""")
def hourly_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """agg_hourly_device_metrics (README_DBT.md:205): time-bucketed
    per-device rollup.  Batch form of the streaming tumbling window
    (ST5); map-side partials make it a single shuffle on (hour, key)."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value"),
                 davg("value").alias("avg_value"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


@q("customer_scorecard", ("A7", "F7"), bench=True,
   oracle=f"""
SELECT c.c_custkey AS customer,
       COUNT(o.o_orderkey) AS n_orders,
       {osum('o.o_totalprice')} AS total_spend,
       {oavg('o.o_totalprice')} AS avg_order,
       ROUND(COALESCE({osum('o.o_totalprice')}, 0.0)
             / (1 + COUNT(o.o_orderkey)), 6) AS health_score
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1
""")
def customer_scorecard(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Scorecard aggregation (README_DBT.md:189-191,206,249):
    multi-metric agg + derived arithmetic score.

    Shape (optimization r11, guide §2.3 "aggregate before you
    shuffle"): orders pre-aggregate per custkey FIRST — map-side
    partials mean the exchange carries one (custkey, count, decimal
    sum) row per customer per map task instead of every order row —
    and the customer left-join runs against that collapsed relation
    (at 100 TB: the orders shuffle shrinks by the orders-per-customer
    factor, and the join's order side is already partitioned by the
    join key, so its exchange is reused).  The old shape joined FIRST,
    shuffling every order row, then aggregated the joined relation.
    All finishing arithmetic reproduces dsum/davg bit-for-bit: the
    decimal(25,4) sum is exact and order-insensitive, so regrouping
    partials cannot change any output bit (oracle re-verified)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    oa = (o.groupBy("o_custkey")
          .agg(F.count("o_orderkey").alias("_n"),
               F.count("o_totalprice").alias("_na"),
               F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
               .alias("_s")))
    j = c.join(oa, oa["o_custkey"] == c["c_custkey"], "left")
    total = F.col("_s").cast("double")
    # davg's micro-unit floor, applied to the pre-aggregated exact sum
    num = (F.col("_s") * F.lit(1_000_000)).cast("decimal(38,0)")
    avg = (((num - num % F.col("_na")) / F.col("_na")).cast("long")
           .cast("double") / F.lit(1_000_000.0))
    n = F.coalesce(F.col("_n"), F.lit(0))
    return j.select(
        c["c_custkey"].alias("customer"),
        n.alias("n_orders"),
        total.alias("total_spend"),
        avg.alias("avg_order"),
        F.round(F.coalesce(total, F.lit(0.0)) / (n + 1), 6)
        .alias("health_score"))


# =========================================================================
# Joins (J1/J2/J3/J4)
# =========================================================================

@q("left_join_dim", ("J1",),
   oracle="""
SELECT c.c_custkey AS customer, c.c_name AS name,
       n.n_name AS nation, r.r_name AS region
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
""")
def left_join_dim(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fact→dim left outer equi joins (fact_iot_events.sql:23); both dims
    broadcast → no fact-side shuffle."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
            .select(c["c_custkey"].alias("customer"),
                    c["c_name"].alias("name"),
                    n["n_name"].alias("nation"),
                    r["r_name"].alias("region")))


@q("join_computed_key", ("J2", "F2"),
   oracle="""
WITH dim_date AS (
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS date,
           EXTRACT(year FROM o_orderdate)::INT AS year
    FROM orders
)
SELECT o.o_orderkey AS order_id, d.date AS date, d.year AS year
FROM orders o
LEFT JOIN dim_date d ON CAST(o.o_orderdate AS DATE) = d.date
""")
def join_computed_key(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Left join on a computed key: cast(ts as date) = dim.date
    (fact_iot_events.sql:24)."""
    o = load(spark, sf_dir, "orders")
    dd = (o.select(F.to_date("o_orderdate").alias("date"),
                   F.year("o_orderdate").alias("year")).distinct())
    return (o.join(F.broadcast(dd),
                   F.to_date(o["o_orderdate"]) == dd["date"], "left")
            .select(o["o_orderkey"].alias("order_id"),
                    dd["date"].alias("date"), dd["year"].alias("year")))


@q("referential_integrity_anti", ("J3",),
   oracle="""
SELECT c.c_custkey AS customer
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def referential_integrity_anti(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """RI via anti join (README_DBT.md:247): dim rows with no fact —
    left_anti keeps only the probe side, broadcastable when small."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .select(F.col("c_custkey").alias("customer")))


@q("semi_join_exists", ("J3",),
   oracle="""
SELECT s.s_suppkey AS supp, s.s_name AS name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
              AND l.l_quantity > 45)
""")
def semi_join_exists(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """EXISTS as left-semi join (the positive RI direction)."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi")
            .select(F.col("s_suppkey").alias("supp"),
                    F.col("s_name").alias("name")))


@q("threshold_theta_join", ("J4",), bench=True,
   oracle=f"""
WITH thresholds AS (
    SELECT event_type AS t_event_type,
           {oavg('value')} * 1.5 AS max_value
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value, t.max_value,
       CASE WHEN e.value > 2 * t.max_value THEN 'critical'
            ELSE 'warning' END AS severity
FROM events e
JOIN thresholds t ON e.event_type = t.t_event_type
                  AND e.value > t.max_value
""")
def threshold_theta_join(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """fct_alerts (README_DBT.md:169,182,199): events outside configured
    bounds, severity-graded.  The thresholds side is tiny → broadcast
    nested-loop/hash join; the events side never shuffles."""
    e = load(spark, sf_dir, "events")
    thr = (e.groupBy(F.col("event_type").alias("t_event_type"))
           # raw ×1.5 of the identical rounded avg on both engines —
           # the outer ROUND was a second boundary hazard for nothing
           .agg((davg("value") * 1.5).alias("max_value")))
    joined = e.join(
        F.broadcast(thr),
        (e["event_type"] == thr["t_event_type"]) &
        (e["value"] > thr["max_value"]))
    return joined.select(
        "event_id", "event_type", "value", "max_value",
        F.when(F.col("value") > 2 * F.col("max_value"), "critical")
         .otherwise("warning").alias("severity"))


# =========================================================================
# Windows (W1/W3) — CDC latest-wins dedup, top-K per group
# =========================================================================

@q("cdc_latest_wins", ("W1",), bench=True,
   oracle="""
SELECT event_id, user_id, ts, event_type, value
FROM (
    SELECT e.*, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events e
) WHERE rn = 1
""")
def cdc_latest_wins(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CDC deduplication with ROW_NUMBER() — latest record per key wins
    (README_DBT.md:103,171-182,242-244).  One shuffle on the key; ties
    broken deterministically by event_id."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                         F.col("event_id").desc())
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "user_id", "ts", "event_type", "value"))


@q("topk_per_group", ("W3",),
   oracle="""
SELECT user_id, event_id, value, rank::INT AS rank
FROM (
    SELECT user_id, event_id, value, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
    FROM events
) WHERE rank <= 3
""")
def topk_per_group(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Top-K per group via ranked window (the top-K-similar building
    block, W3).  Spark executes as a partial top-K sort per partition
    (WindowGroupLimit pushdown) — no full sort of the fact table."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (e.select("user_id", "event_id", "value",
                     F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= 3))


# =========================================================================
# Sketches (A8) — tiny-cardinality HLL is exact, so oracle-checkable
# =========================================================================

@q("approx_distinct_small", ("A8",),
   oracle="""
SELECT l_linestatus AS status,
       COUNT(DISTINCT l_returnflag) AS approx_flags,
       COUNT(DISTINCT l_suppkey) AS exact_supps
FROM lineitem GROUP BY l_linestatus
""")
def approx_distinct_small(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """approx_count_distinct for 100 TB cardinality work (A8).  At the
    tested cardinalities (≤ a few hundred) HLL++ runs in exact sparse
    mode, so the DuckDB COUNT(DISTINCT) oracle matches; at scale the
    same call degrades gracefully to ~2% error with O(1) memory."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_linestatus").alias("status"))
            .agg(F.approx_count_distinct("l_returnflag", 0.01)
                 .alias("approx_flags"),
                 F.countDistinct("l_suppkey").alias("exact_supps")))


@q("cube_rollup_totals", ("A1", "F7"), oracle=f"""
SELECT l_returnflag AS flag, l_linestatus AS status,
       {osum('l_quantity')} AS qty, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def cube_rollup_totals(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CUBE grouping sets (beyond the reference surface — SURVEY §2.4
    notes Spark has it for free): all 4 grouping combinations in one
    pass; Spark expands to a single Expand + hash aggregate, one
    shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return (li.cube(F.col("l_returnflag").alias("flag"),
                    F.col("l_linestatus").alias("status"))
            .agg(dsum("l_quantity").alias("qty"),
                 F.count(F.lit(1)).alias("n")))


@q("pivot_status_totals", ("A1", "F7"), oracle=f"""
SELECT l_returnflag AS flag,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
            THEN CAST(l_quantity AS DECIMAL(25,4)) END) AS DOUBLE) AS qty_o,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
            THEN CAST(l_quantity AS DECIMAL(25,4)) END) AS DOUBLE) AS qty_f
FROM lineitem GROUP BY l_returnflag
""")
def pivot_status_totals(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """PIVOT (wide aggregation): explicit value list keeps the plan a
    single pass (no distinct-values pre-query) — the at-scale rule for
    pivots."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_returnflag").alias("flag"))
            .pivot("l_linestatus", ["O", "F"])
            .agg(dsum("l_quantity"))
            .withColumnRenamed("O", "qty_o")
            .withColumnRenamed("F", "qty_f"))


@q("percentile_by_group", ("A8", "F7"), oracle="""
SELECT l_returnflag AS flag,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.95) AS p95
FROM lineitem GROUP BY l_returnflag
""")
def percentile_by_group(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact interpolated percentiles per group (F.percentile ⇔ DuckDB
    quantile_cont).  The sketch twin for 100 TB is percentile_approx
    (KLL/GK, O(1) memory) — exercised in approx_distinct_small's
    family; exact is fine here because l_quantity is a narrow column
    and the group count is tiny."""
    li = load(spark, sf_dir, "lineitem")
    return (li.groupBy(F.col("l_returnflag").alias("flag"))
            .agg(F.percentile("l_quantity", 0.5).alias("p50"),
                 F.percentile("l_quantity", 0.95).alias("p95")))


# [EXT]/[DOC]/streaming query modules register into the same REGISTRY
# on import.
from . import queries_ext  # noqa: E402,F401  (import side effect)
from . import queries_streaming  # noqa: E402,F401  (import side effect)
from . import queries_incremental  # noqa: E402,F401  (import side effect)
from . import queries_pipeline  # noqa: E402,F401  (import side effect)
from . import queries_tpch  # noqa: E402,F401  (import side effect)
from . import queries_training  # noqa: E402,F401  (import side effect)
from . import queries_analytics  # noqa: E402,F401  (import side effect)
from . import queries_llmprep  # noqa: E402,F401  (import side effect)
from . import queries_corpus  # noqa: E402,F401  (import side effect)
from . import queries_mixing  # noqa: E402,F401  (import side effect)
from . import queries_lake  # noqa: E402,F401  (import side effect)
from . import queries_behavior  # noqa: E402,F401  (import side effect)
from . import queries_timeseries  # noqa: E402,F401  (import side effect)
from . import queries_graph  # noqa: E402,F401  (import side effect)
from . import queries_intervals  # noqa: E402,F401  (import side effect)
from . import queries_ml  # noqa: E402,F401  (import side effect)
from . import queries_stats  # noqa: E402,F401  (import side effect)
from . import queries_drift  # noqa: E402,F401  (import side effect)
from . import queries_retrieval  # noqa: E402,F401  (import side effect)
from . import queries_curation  # noqa: E402,F401  (import side effect)
