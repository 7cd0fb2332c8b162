"""Declared queries that put the lake-layout/versioning machinery
itself under the oracle gate: file-level data skipping and snapshot
diff run end-to-end inside the query (real writes to a scratch dir,
real manifests), and the RESULT is hash-matched against a DuckDB
oracle that states the same semantics relationally.

These certify the engine plumbing the same way engine_pipeline_fact
certifies the DAG runner: the oracle can't see files or manifests, so
the queries are written to make any skipping/versioning bug change
the visible rows (and the skipping query additionally raises if the
layout failed to prune — the scale property is part of the contract).
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from .queries import dsum, load, osum, q
from .session import scratch
from .stagecache import source_digest as _source_digest
from .stagecache import stage_once as _stage_once

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_SKIP_LO, _SKIP_HI = 30, 60


@q("data_skipping_scan", ("S9", "P5", "A1"), oracle=f"""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM events
WHERE user_id BETWEEN {_SKIP_LO} AND {_SKIP_HI}
GROUP BY 1
""")
def data_skipping_scan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end data-skipping path: export events to a scratch
    table, range-cluster on user_id (OPTIMIZE/ZORDER analog), build
    the min/max stats manifest, then answer a selective range query
    through :func:`engine.skipping.scan_with_skipping`.

    The query RAISES unless pruning actually skipped more than half
    the files — the gate certifies the layout property, not just row
    values.  Correctness guard is structural: pruning only drops
    whole files whose [min,max] can't intersect, and the residual
    predicate still applies, so a manifest bug surfaces as missing or
    extra rows vs the oracle.

    Scale: this is the 100 TB selective-scan shape — clustering makes
    per-file ranges disjoint, the manifest turns file listing into an
    O(files) driver lookup instead of 10⁶ footer round trips, and the
    aggregate runs over ~range/table_range of the data.
    """
    from .engine.maintenance import cluster
    from .engine.publish import vacuum_table_versions
    from .engine.skipping import build_stats_manifest, scan_with_skipping

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def _build(work: Path) -> None:
        # one level down: the table's link, log and versions then live
        # (and are garbage-collected) inside the staged dir
        table = work / "events"
        e.repartition(8).write.mode("overwrite").parquet(str(table))
        cluster(spark, table, ["user_id"], target_file_bytes=64 * 1024)
        vacuum_table_versions(table)    # nothing reads it yet
        build_stats_manifest(table, ["user_id"])

    work = _stage_once(sf_dir, "events", "skip_scan", _build) / "events"
    df, n_read, n_total = scan_with_skipping(
        spark, work, "user_id", lo=_SKIP_LO, hi=_SKIP_HI)
    if n_total >= 4 and n_read * 2 > n_total:
        raise AssertionError(
            f"data skipping ineffective: read {n_read}/{n_total} files")
    return (df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(25,4)"))
                 .cast("double").alias("total_value")))


@q("snapshot_changes", ("W1", "S6"), oracle="""
WITH v0 AS (
  SELECT o_orderkey AS order_id, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 4 <> 0
), v1 AS (
  SELECT o_orderkey AS order_id,
         CASE WHEN o_orderkey % 10 = 2 THEN 'X' ELSE o_orderstatus END
           AS status
  FROM orders WHERE o_orderkey % 4 <> 1
)
SELECT order_id, status, 'insert' AS change_type
FROM v1 WHERE order_id NOT IN (SELECT order_id FROM v0)
UNION ALL
SELECT order_id, status, 'delete' FROM v0
WHERE order_id NOT IN (SELECT order_id FROM v1)
UNION ALL
SELECT v1.order_id, v1.status, 'update_postimage'
FROM v1 JOIN v0 USING (order_id) WHERE v1.status <> v0.status
UNION ALL
SELECT v0.order_id, v0.status, 'update_preimage'
FROM v0 JOIN v1 USING (order_id) WHERE v1.status <> v0.status
""")
def snapshot_changes(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end snapshot versioning + change-data-feed: commit two
    deterministic versions of an orders slice through the snapshot
    store (immutable version dirs, one commit-log entry each), then read
    the row-level changes back with
    :func:`engine.snapshots.snapshot_diff` keyed on order_id.

    The oracle reconstructs both versions relationally and states the
    CDF semantics from first principles (key-scoped insert / delete /
    update pre+postimage) — so commit-log bugs, version mix-ups, or
    misclassification all surface as value mismatches.

    Scale: the diff is two exceptAll shuffles over the changed-rows
    superset plus one key-join over changed rows only; version commits
    are metadata-atomic (no table rewrite beyond the snapshot itself).
    """
    from .engine.snapshots import snapshot_diff, write_snapshot

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"))
    v0_df = o.where(F.col("order_id") % 4 != 0)
    v1_df = (o.where(F.col("order_id") % 4 != 1)
             .withColumn("status",
                         F.when(F.col("order_id") % 10 == 2, F.lit("X"))
                         .otherwise(F.col("status"))))
    tbl = Path(scratch("snap_cdf_")) / "orders_slice"
    v0 = write_snapshot(v0_df, tbl)
    v1 = write_snapshot(v1_df, tbl)
    return (snapshot_diff(spark, tbl, v0, v1, keys=("order_id",))
            .withColumnRenamed("_change_type", "change_type"))


# =========================================================================
# General MERGE INTO ([EXT] — the full Delta/Iceberg merge matrix)
# =========================================================================

_MERGE = dict(upd=100_000_000)  # update threshold, cents; delete = negative balance


@q("merge_into_full_matrix", ("J1", "W1", "S6"), oracle=f"""
WITH t AS (
  SELECT c_custkey AS custkey, c_name AS name, c_nationkey AS nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal,
         c_mktsegment AS seg
  FROM customer
), s AS (
  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 1000000
              ELSE o_custkey END AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS spend
  FROM orders GROUP BY 1
)
SELECT COALESCE(t.custkey, s.custkey) AS custkey,
       CASE WHEN t.custkey IS NULL THEN 'NEW' ELSE t.name END AS name,
       CASE WHEN t.custkey IS NULL THEN 0 ELSE t.nationkey END
           AS nationkey,
       CAST(CASE
         WHEN t.custkey IS NULL THEN s.spend // 100
         WHEN s.custkey IS NOT NULL AND s.spend >= {_MERGE['upd']}
           THEN t.bal + s.spend // 100
         ELSE t.bal END AS BIGINT) AS bal,
       CASE
         WHEN t.custkey IS NULL THEN 'NEW'
         WHEN s.custkey IS NOT NULL AND s.spend >= {_MERGE['upd']}
           THEN 'UPGRADED'
         ELSE t.seg END AS seg
FROM t FULL OUTER JOIN s ON t.custkey = s.custkey
WHERE t.custkey IS NULL                                   -- insert
   OR s.custkey IS NULL                                   -- untouched
   OR NOT (t.bal < 0)                                     -- not deleted
""")
def merge_into_full_matrix(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The full MERGE INTO matrix in one statement over customer ←
    order-activity batch: big spenders UPDATE (balance credit +
    segment upgrade), active-but-negative-balance accounts DELETE
    (the churn purge), unknown keys INSERT,
    everyone else unchanged — `operators/merge.py` lowered to a single
    full-outer join + CASE resolution, exactly Delta's physical
    strategy minus the file-touch-set optimization (which
    engine/skipping.py supplies when the target is a managed table).

    Every 10th source key is shifted out of the key space to exercise
    the NOT MATCHED INSERT branch deterministically.  All arithmetic
    in integer cents with floor division — bit-stable.
    """
    from .operators.merge import merge_into
    t = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        F.col("c_mktsegment").alias("seg"))
    s = (load(spark, sf_dir, "orders")
         .select(F.when(F.col("o_custkey") % 10 == 0,
                        F.col("o_custkey") + 1000000)
                 .otherwise(F.col("o_custkey")).alias("custkey"),
                 F.round(F.col("o_totalprice") * 100).cast("long")
                 .alias("cents"))
         .groupBy("custkey").agg(F.sum("cents").alias("spend")))
    return merge_into(
        t, s, "custkey",
        update_set={
            "bal": F.expr("t.bal + (s.spend div 100)"),
            "seg": F.lit("UPGRADED")},
        update_cond=F.col("s.spend") >= _MERGE["upd"],
        delete_cond=F.col("t.bal") < 0,
        insert_values={
            "custkey": F.col("s.custkey"),
            "name": F.lit("NEW"),
            "nationkey": F.lit(0),
            "bal": F.expr("s.spend div 100"),
            "seg": F.lit("NEW")})


# =========================================================================
# Bloom point-lookup scan ([EXT] — equality skipping, layout-independent)
# =========================================================================

_BLOOM_PROBE = 4242  # event_id probed; present at every SF ≥ 0.01


@q("bloom_point_lookup", ("S9", "P5"), oracle=f"""
SELECT event_id, user_id, event_type,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
FROM events WHERE event_id = {_BLOOM_PROBE}
""")
def bloom_point_lookup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end Bloom data-skipping path: export events UNCLUSTERED
    (hash-interleaved — the layout where min/max skipping is useless
    because every file spans the whole key range), build per-file
    Bloom bitmaps in the manifest, and serve a point lookup through
    :func:`engine.skipping.scan_with_skipping_eq`.

    RAISES unless the bloom pruned at least half the files — on this
    layout that pruning is attributable to the bloom alone, so the
    gate certifies the bitmap math (a bloom false NEGATIVE would drop
    the row and hash-mismatch the oracle; false positives only waste
    a file read).  This is the needle-in-100TB shape: primary-key
    lookups on tables clustered by something else.
    """
    from .engine.skipping import (build_bloom_manifest,
                                  build_stats_manifest,
                                  scan_with_skipping_eq)
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    def _build(work: Path) -> None:
        e.repartition(8).write.mode("overwrite").parquet(str(work))
        build_stats_manifest(work, ["event_id"])
        build_bloom_manifest(work, ["event_id"])

    # v3: type-canonical bloom hash keys (int ≡ int-valued float —
    # skipping._bloom_key; the v2→v3 tag bump invalidates staged v2
    # bitmaps whose positions used repr-typed keys).  v2 was the
    # per-file auto-sizing fix (fixed 8192 bits saturated at the ×10
    # replica's 1.25 M keys/file).
    work = _stage_once(sf_dir, "events", "bloom_scan_v3", _build)
    df, n_read, n_total = scan_with_skipping_eq(
        spark, work, "event_id", _BLOOM_PROBE)
    if n_total >= 4 and n_read * 2 > n_total:
        raise AssertionError(
            f"bloom skipping ineffective: read {n_read}/{n_total} files")
    return df.select("event_id", "user_id", "event_type", "value_cents")


# =========================================================================
# Z-order second-dimension scan ([EXT] — multi-key skipping in the gate)
# =========================================================================

_ZO = dict(lo=10_000, hi=20_000)  # value_cents probe band


@q("zorder_second_dim_scan", ("S9", "P5", "A1"), oracle=f"""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
WHERE CAST(ROUND(value * 100) AS BIGINT)
      BETWEEN {_ZO['lo']} AND {_ZO['hi']}
GROUP BY user_id
""")
def zorder_second_dim_scan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end multi-key skipping: export events, Z-ORDER on
    (user_id, value_cents) via the Morton curve, build the stats
    manifest, then answer a selective range query on the SECOND
    z-ordered column through the pruned scan — the probe that
    lexicographic clustering fundamentally cannot skip (its
    non-leading key spans every file).

    RAISES unless second-dimension pruning actually dropped files; the
    hash compare against the plain-filter oracle then certifies that
    pruning never changed the answer.  This is the dashboard-slice
    shape at 100 TB: tables are laid out once for N query dimensions,
    and every dimension gets sub-linear scans.
    """
    from .engine.maintenance import zorder
    from .engine.publish import vacuum_table_versions
    from .engine.skipping import build_stats_manifest, scan_with_skipping

    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    def _build(work: Path) -> None:
        table = work / "events"     # one level down, as data_skipping_scan
        e.repartition(8).write.mode("overwrite").parquet(str(table))
        zorder(spark, table, ["user_id", "value_cents"],
               target_file_bytes=48 * 1024)
        vacuum_table_versions(table)
        build_stats_manifest(table, ["user_id", "value_cents"])

    work = _stage_once(sf_dir, "events", "zorder_scan", _build) / "events"
    df, n_read, n_total = scan_with_skipping(
        spark, work, "value_cents", lo=_ZO["lo"], hi=_ZO["hi"])
    if n_total >= 6 and n_read >= n_total:
        raise AssertionError(
            f"z-order 2nd-dim skipping ineffective: {n_read}/{n_total}")
    return (df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value_cents").cast("long").alias("total_cents")))


# =========================================================================
# Runtime filtering ([EXT] S9/J1 — the two RUNTIME join-pruning paths a
# 100 TB shuffle join lives or dies by, complementing this module's
# STATIC skipping family: dynamic partition pruning turns a dim filter
# into fact partition pruning at execution time; the injected bloom
# filter turns it into a map-side row pre-filter ahead of the shuffle.)
# =========================================================================


def _plan_text(df: "DataFrame") -> str:
    """Formatted physical plan of ``df`` (the same text explain() prints
    — captured, so in-query structural guards can assert on it)."""
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@q("dpp_partition_pruned_join", ("S9", "J1", "A1"), oracle=f"""
WITH dim AS (
  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND EXTRACT(year FROM o_orderdate) = 1996
)
SELECT f.ship_month, COUNT(*) AS n_items,
       {osum('l_extendedprice')} AS revenue
FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             l_extendedprice FROM lineitem) f
JOIN dim USING (ship_month)
GROUP BY 1
""")
def dpp_partition_pruned_join(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Dynamic partition pruning end-to-end: the fact is laid out
    hive-partitioned by ship month (the one-time ingest layout cost),
    the dim side is a RUNTIME-computed relation (urgent-1996 order
    months — not a literal IN list, so static pruning cannot apply),
    and Catalyst injects ``dynamicpruningexpression`` into the fact
    scan's PartitionFilters: the dim is evaluated first and only the
    matching fact partitions are ever listed or read.

    RAISES unless the injected pruning expression is actually in the
    plan — the gate certifies the mechanism, not just the row values
    (same contract as data_skipping_scan).  The returned DataFrame
    keeps the live pruned plan, so plan dumps show the real scan.

    Scale: this is THE selective fact-dim join at 100 TB — with ~84
    month partitions and a 12-month dim, the scan touches 1/7 of the
    table with zero manifest machinery (pruning happens in the
    engine's partition listing), and it composes with the broadcast
    the planner already picks for the dim side."""
    li = (load(spark, sf_dir, "lineitem")
          .select(F.date_format("l_shipdate", "yyyy-MM")
                  .alias("ship_month"), "l_extendedprice"))
    work = _stage_once(
        sf_dir, "lineitem", "dpp_join",
        lambda w: li.write.mode("overwrite")
        .partitionBy("ship_month").parquet(str(w)))
    fact = spark.read.parquet(str(work))

    dim = (load(spark, sf_dir, "orders")
           .filter((F.col("o_orderpriority") == "1-URGENT") &
                   (F.year("o_orderdate") == 1996))
           .select(F.date_format("o_orderdate", "yyyy-MM")
                   .alias("ship_month"))
           .distinct())
    out = (fact.join(dim, "ship_month")
           .groupBy("ship_month")
           .agg(F.count(F.lit(1)).alias("n_items"),
                dsum("l_extendedprice").alias("revenue")))
    if "dynamicpruningexpression" not in _plan_text(out):
        raise AssertionError(
            "dynamic partition pruning was not injected into the fact "
            "scan — layout or planner regression")
    return out


@q("runtime_bloom_filter_join", ("J1", "A1"), oracle=f"""
SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_items,
       {osum('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""")
def runtime_bloom_filter_join(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Runtime bloom-filter join: when the dim side is too big to
    broadcast but carries a selective predicate, Catalyst's
    InjectRuntimeFilter builds a bloom filter over the dim's join keys
    and applies ``might_contain`` to the fact scan BEFORE the shuffle
    — at 100 TB that map-side pre-filter is the difference between
    shuffling the whole fact and shuffling the ~quarter that can
    possibly match.

    The local replica scales the trigger thresholds instead of the
    data: applicationSideScanSizeThreshold=0 stands in for "the fact
    is huge" and autoBroadcastJoinThreshold=-1 for "the dim exceeds
    broadcast size" — both are exactly the regime the feature targets
    in production, where the DEFAULT thresholds engage it.  RAISES
    unless ``might_contain`` was actually injected; the result is
    materialized while the filter is active and the session confs are
    restored in a finally (the mutation never outlives the call)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # creation-side cap: the injector refuses to BUILD a bloom over
        # a dim bigger than this (build cost guard).  The default 10 MB
        # already disengages at the ×100 replica (measured — the urgent
        # dim outgrows it), so the demo pins the production reality:
        # past the default cap this knob is the trade-off between one
        # aggregate pass over the dim keys and shuffling the whole fact
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "1GB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    # per-(source, process) sink, mode=overwrite: re-invocations in one
    # process reuse a dir instead of leaking a mkdtemp per pass, and
    # the pid suffix keeps a concurrent session's overwrite from racing
    # this one's read (stagecache owns the naming)
    from .stagecache import scratch_dir
    out = scratch_dir(sf_dir, "lineitem", "bloom_rt_join") / "out"
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice")
        od = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey", "o_orderdate"))
        j = (li.join(od, li.l_orderkey == od.o_orderkey)
             .groupBy(F.date_format("o_orderdate", "yyyy-MM")
                      .alias("order_month"))
             .agg(F.count(F.lit(1)).alias("n_items"),
                  dsum("l_extendedprice").alias("revenue")))
        if "might_contain" not in _plan_text(j):
            raise AssertionError(
                "runtime bloom filter was not injected — planner or "
                "threshold regression")
        # materialize while the runtime filter is active: the returned
        # (lazily-evaluated) plan must not depend on the mutated confs
        j.write.mode("overwrite").parquet(str(out))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.read.parquet(str(out))


@q("aqe_skew_join_split", ("J1", "A1"), oracle=f"""
SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
       {osum('value')} AS total_value
FROM (SELECT CASE WHEN user_id % 4 <> 0 THEN 1 ELSE user_id END AS uid,
             value FROM events) e
JOIN customer ON e.uid = c_custkey
GROUP BY 1
""")
def aqe_skew_join_split(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """AQE runtime skew-join split — the third leg of the skew story
    (skew_profile measures it, skew_salted_join splits it by hand,
    this query proves the ENGINE splits it at runtime): ~75% of fact
    rows are remapped onto one hot join key, the shuffle's map output
    statistics reveal the hot reduce partition, and AQE's
    OptimizeSkewedJoin regroups its map-side chunks across several
    tasks — ``SortMergeJoin(skew=true)`` in the executed plan, which
    this query RAISES without.

    Local-replica stand-ins, same contract as runtime_bloom_filter_join
    (each is the regime where production DEFAULTS engage the feature;
    all confs restored in a finally): thresholds are scaled down
    because the replica's hot partition is KB not GB;
    ``forceOptimizeSkewedJoin`` because the downstream rollup adds the
    extra shuffle the cost model would otherwise veto; and the fact is
    round-robin pre-repartitioned because the replica scan is ONE map
    task — skew splitting regroups MAP-SIDE chunks, so a single-mapper
    partition is unsplittable (at 100 TB the fact always has thousands
    of mappers; a genuinely single-chunk hot key is the one case AQE
    cannot handle and salting still owns — skew_salted_join's
    docstring makes the same point from the other side).

    The tiny aggregate is returned through a driver-side materialization
    taken while the confs were active (the oracle compares values; the
    plan assertion is the in-query raise + tests/test_runtime_filters)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = (load(spark, sf_dir, "events")
                .select(F.when(F.col("user_id") % 4 != 0, F.lit(1))
                        .otherwise(F.col("user_id")).alias("uid"), "value")
                .repartition(16))
        dim = load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("uid"), "c_mktsegment")
        agg = (fact.join(dim, "uid")
               .groupBy(F.col("c_mktsegment").alias("segment"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    dsum("value").alias("total_value")))
        rows = agg.collect()
        final = agg._jdf.queryExecution().executedPlan().toString()
        if "skew=true" not in final:
            raise AssertionError(
                "AQE did not mark the hot join skewed — skew-split "
                "regression (or the replica lost its multi-mapper "
                "stand-in)")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return spark.createDataFrame(rows, agg.schema)


@q("aqe_runtime_broadcast_switch", ("J1", "A1"), oracle=f"""
SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_items,
       {osum('l.l_quantity')} AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '2-HIGH'
GROUP BY 1
""")
def aqe_runtime_broadcast_switch(spark: "SparkSession",
                                 sf_dir: str) -> "DataFrame":
    """AQE join-strategy switch: the static planner, told it may not
    broadcast (stand-in for "the optimizer's STATIC estimate of the
    filtered dim is way over the broadcast bar" — at 100 TB a
    post-filter cardinality estimate without column stats routinely
    is), plans a sort-merge join; at runtime the finished dim stage's
    TRUE size is under the adaptive broadcast threshold, and AQE
    re-plans the probe side as a broadcast-hash join — skipping the
    fact shuffle that was the whole cost of the static plan.

    The executed AdaptiveSparkPlan prints both versions of itself, and
    the query RAISES unless the Final Plan section is the broadcast
    join while the Initial Plan section still holds the sort-merge
    join — certifying the switch actually happened rather than either
    strategy having been planned statically.  Conf mutation follows
    the module's containment contract (restored in a finally; a guard
    test pins it).

    Scale: this is the adaptivity that makes selective fact-dim joins
    safe to write declaratively — the user states the join, the
    runtime picks shuffle-vs-broadcast per ACTUAL stage output, so a
    misestimate costs one dim-stage materialization instead of a
    100 TB fact shuffle."""
    confs = {
        # static planner: broadcast forbidden (the misestimate stand-in)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # runtime re-planner: true sizes under this may broadcast.  1GB
        # rather than the 8MB first pinned: the ×100-replica sweep
        # caught the filtered dim outgrowing 8MB, at which point AQE
        # CORRECTLY kept the sort-merge join and the switch gate raised
        # — same scaling rule as runtime_bloom_filter_join's
        # creationSideThreshold (the demo premise is "the true runtime
        # size is broadcastable on the target cluster", so the knob
        # must track the replica scale, not the smallest gate SF)
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "1GB",
    }
    # the adaptive threshold is an OPTIONAL conf (unset ⇒ falls back to
    # the static one): save None and restore via unset, not set(None)
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity")
        od = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "2-HIGH")
              .select("o_orderkey", "o_orderdate"))
        agg = (li.join(od, li.l_orderkey == od.o_orderkey)
               .groupBy(F.date_format("o_orderdate", "yyyy-MM")
                        .alias("order_month"))
               .agg(F.count(F.lit(1)).alias("n_items"),
                    dsum("l_quantity").alias("sum_qty")))
        rows = agg.collect()
        txt = agg._jdf.queryExecution().executedPlan().toString()
        parts = txt.split("== Initial Plan ==")
        if not ("BroadcastHashJoin" in parts[0]
                and "SortMergeJoin" not in parts[0]
                and len(parts) == 2 and "SortMergeJoin" in parts[1]):
            raise AssertionError(
                "AQE did not switch the statically-planned sort-merge "
                "join to a runtime broadcast join")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, agg.schema)


@q("cbo_join_reorder", ("J1", "A1", "O2"), oracle=f"""
SELECT p.p_brand AS brand, COUNT(*) AS n_items,
       {osum('l.l_quantity')} AS sum_qty
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice < 10000
GROUP BY 1
""")
def cbo_join_reorder(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Stats-driven join reordering — the STATIC optimizer leg of the
    plan-quality story (the aqe_* family covers runtime adaptivity;
    this covers what ANALYZE TABLE column statistics buy before a
    single task runs): the SQL is written in a deliberately bad
    syntactic order (fact ⋈ unfiltered part dim FIRST, selective ~2%
    orders filter LAST), and Catalyst's CBO join reorder — which only
    engages when the catalog carries rowCount + column NDV stats —
    rewrites it to join the filtered orders side first, shrinking the
    intermediate from |lineitem| rows to ~2% of them before the wide
    dim ever joins.

    RAISES unless the optimized plan actually scans orders BEFORE part
    (the reorder happened); a guard test pins the negative — without
    CBO the syntactic order stands — so the demo can't silently decay
    into asserting the default.  Catalog staging uses per-call unique
    table names, ANALYZE computes stats only for the join/filter/agg
    columns, and tables are dropped (managed ⇒ data too) in a finally
    alongside the conf restore.

    Scale: at 100 TB the difference between these two orders is a
    full-fact-sized shuffle+build vs a 2%-sized one; stats collection
    is the cheap, embarrassingly-parallel pass that makes the planner
    see it.  (Spark's CBO is static and per-table here — no runtime
    feedback — which is exactly why the aqe_* family exists beside
    it.)"""
    import uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    names = {t: f"cbodemo.{t}_{sfx}" for t in ("lineitem", "part",
                                               "orders")}
    cols = {"lineitem": "l_partkey, l_orderkey, l_quantity",
            "part": "p_partkey, p_brand",
            "orders": "o_orderkey, o_totalprice"}
    confs = {"spark.sql.cbo.enabled": "true",
             "spark.sql.cbo.joinReorder.enabled": "true"}
    saved = {k: spark.conf.get(k) for k in confs}
    spark.sql("CREATE DATABASE IF NOT EXISTS cbodemo")
    try:
        for t, full in names.items():
            # stage only the join/filter/agg columns — the demo, the
            # stats and the oracle touch nothing else, and the staging
            # write is the dominant per-call cost
            (load(spark, sf_dir, t)
             .select(*[c.strip() for c in cols[t].split(",")])
             .write.saveAsTable(full))
            spark.sql(f"ANALYZE TABLE {full} COMPUTE STATISTICS "
                      f"FOR COLUMNS {cols[t]}")
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg = spark.sql(f"""
            SELECT p.p_brand AS brand, COUNT(*) AS n_items,
                   {osum('l.l_quantity')} AS sum_qty
            FROM {names['lineitem']} l
            JOIN {names['part']} p ON p.p_partkey = l.l_partkey
            JOIN {names['orders']} o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_totalprice < 10000
            GROUP BY 1""")
        import re
        opt = agg._jdf.queryExecution().optimizedPlan().toString()
        seq = re.findall(rf"Relation spark_catalog\.cbodemo\.(\w+)_{sfx}",
                         opt)
        if ("orders" not in seq or "part" not in seq
                or seq.index("orders") > seq.index("part")):
            raise AssertionError(
                f"CBO did not reorder the joins (relation order {seq}) "
                "— stats missing or joinReorder regression")
        rows = agg.collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for full in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {full}")
    return spark.createDataFrame(rows, agg.schema)
