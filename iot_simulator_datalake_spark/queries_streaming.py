"""Declared queries for streaming semantics (ST1-ST5) + sessionization.

The streaming rollup runs a REAL Structured Streaming query
(readStream → watermark → tumbling window → memory sink, triggered
availableNow) and returns the drained result as a batch DataFrame —
because triggered mode processes all available input, the end state
equals the batch SQL, giving streaming a full-strength DuckDB oracle
instead of the weaker rows-only check.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .functions.units import to_units
from .queries import load, normalize_ts, oavg, osum, q, raw_schema
from .queries_llmprep import _o_hash_bucket
from .session import scratch
from .streaming.runner import drain_to_memory, run_stream_available_now

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def _stream_source(spark: "SparkSession", sf_dir: str,
                   table: str = "events"):
    """Layout-aware file-stream source for a driver table, read with its
    raw schema and ``events.ts`` normalized as :func:`load` does.  Stream
    the table path when it is a directory of part files (replica / lake
    layouts); otherwise glob the single file from its parent — the file
    stream source refuses a plain-file basePath, and glob-on-parent
    alone silently matches nothing for directory layouts.

    Directory detection goes through the Hadoop FileSystem API (not
    ``os.path``), so it answers correctly for any supported scheme
    (s3a://, hdfs://, file:) — a driver-local stat would always say
    "not a directory" for object-store paths and silently pick the
    wrong branch."""
    path = f"{sf_dir}/{table}.parquet"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration())
    try:
        is_dir = fs.getFileStatus(hpath).isDirectory()
    except Exception:          # missing path → let the reader error out
        is_dir = False
    reader = spark.readStream.schema(raw_schema(spark, sf_dir, table))
    return normalize_ts(spark, reader.parquet(path) if is_dir else
                        reader.option("pathGlobFilter", f"{table}.parquet")
                        .parquet(sf_dir), table)


@q("streaming_hourly_rollup", ("ST1", "ST3", "ST5", "A6"), oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {osum('value')} AS total_value
FROM events GROUP BY 1, 2
""")
def streaming_hourly_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Tumbling-window streaming aggregate with a watermark (ST5):
    readStream over the events parquet → 1h windows → complete-mode
    memory sink, drained with Trigger.AvailableNow (ST3 triggered
    execution).  Window starts equal date_trunc('hour'), so the drained
    state matches the batch oracle exactly."""
    batch = load(spark, sf_dir, "events")     # handles ns→µs conversion
    stream = _stream_source(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,4)"))
                .cast("double").alias("total_value")))
    return (drain_to_memory(agg, "complete", "stream_rollup")
            .select(F.col("w.start").alias("hour"), "event_type",
                    "n_events", "total_value"))


@q("streaming_sessionization", ("ST5", "W1"), oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
""")
def streaming_sessionization(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """TRUE streaming sessionization: ``F.session_window`` (dynamic-gap
    merging state) over a watermarked stream, drained availableNow —
    must converge to the batch gap-based sessionization oracle.
    session_window's end is last-event+gap, so subtract the gap to get
    the oracle's MAX(ts)."""
    stream = _stream_source(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    "user_id")
           .agg(F.count(F.lit(1)).alias("n_events")))
    return (drain_to_memory(agg, "complete", "stream_sess")
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    (F.col("w.end") - F.expr("INTERVAL 30 MINUTES"))
                    .alias("session_end"),
                    "n_events"))


@q("streaming_interval_join", ("ST2", "ST5", "J4"), oracle="""
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       a.user_id AS user_id, a.ts AS click_ts, b.ts AS purchase_ts
FROM events a JOIN events b ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""")
def streaming_interval_join(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """Stream-stream interval join (click→purchase attribution within
    1 h): both sides watermarked, join condition bounds event time on
    both ends so Spark can expire join state — the canonical
    stream-stream join shape.  Drained availableNow in append mode,
    the emitted pairs equal the batch time-bounded self-join oracle.
    At scale, state size is bounded by (watermark + interval) × input
    rate per key, never the full history."""
    clicks = (_stream_source(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    buys = (_stream_source(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("user_id").alias("user_id"),
                    F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "2 hours"))
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("user_id")) &
        (F.col("purchase_ts") >= F.col("click_ts")) &
        (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")))
    return drain_to_memory(
        joined.select("click_id", "purchase_id", "user_id",
                      "click_ts", "purchase_ts"), "append", "stream_ij")


@q("sessionization", ("W1", "A6"), bench=True, oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, session_id::BIGINT AS session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
""")
def sessionization(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sessionization (gap > 30 min ⇒ new session): lag + running sum —
    the batch twin of streaming ``session_window``.  One shuffle on
    user_id serves both windows and the final per-session aggregate."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000),
                         1).otherwise(0)
    run = (W.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(W.unboundedPreceding, 0))
    return (e.withColumn("session_id",
                         F.sum(new_session).over(run))
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


@q("streaming_enriched_rollup", ("ST2", "ST4", "J1", "A6"), oracle=f"""
SELECT n.n_name AS nation, e.event_type AS event_type,
       COUNT(*) AS n_events, {osum('e.value')} AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
""")
def streaming_enriched_rollup(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Stream-static join: a streaming fact enriched against BATCH dim
    tables (customer→nation, both broadcast — the per-micro-batch
    lookup-table pattern), then aggregated.  No watermark needed:
    stream-static joins keep no join state, the static side is just
    re-probed each micro-batch, which is why this shape scales to any
    stream rate as long as the dim broadcasts."""
    stream = _stream_source(spark, sf_dir)
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    dim = (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
           .select(F.col("c_custkey").alias("user_key"),
                   F.col("n_name").alias("nation")))
    agg = (stream.join(F.broadcast(dim),
                       stream["user_id"] == dim["user_key"])
           .groupBy("nation", "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,4)"))
                .cast("double").alias("total_value")))
    return drain_to_memory(agg, "complete", "stream_enrich")


@q("streaming_dedup_rollup", ("ST1", "ST3", "ST4", "A6", "W2"), oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {osum('value')} AS total_value
FROM events GROUP BY 1, 2
""")
def streaming_dedup_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """In-stream exact dedup under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` keyed on event_id over the UNION
    of two identical file streams (every event arrives twice — the
    duplicate-delivery profile of any at-least-once ingest bus), drained
    availableNow in append mode, then rolled up batch-side.  Because
    dedup state is evicted by the watermark instead of growing forever,
    this is THE scale-safe streaming dedup: state is bounded by
    (watermark window × input rate), not by stream history — unlike
    plain ``dropDuplicates``, which never forgets.  The deduped stream
    must hash-match the batch rollup over the ORIGINAL (single-copy)
    events — duplicates in, exact semantics out."""
    deduped = (_stream_source(spark, sf_dir)
               .union(_stream_source(spark, sf_dir))
               .withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"]))
    return (drain_to_memory(deduped, "append", "stream_dedup")
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(25,4)"))
                 .cast("double").alias("total_value")))


@q("streaming_dedup_rollup_rocksdb", ("ST1", "ST3", "ST4", "A6", "W2"),
   oracle=f"""
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {osum('value')} AS total_value
FROM events GROUP BY 1, 2
""")
def streaming_dedup_rollup_rocksdb(spark: "SparkSession",
                                   sf_dir: str) -> "DataFrame":
    """``streaming_dedup_rollup`` on the RocksDB state store — the
    production bound for its one measured pathology (SCALE.md ×100:
    111–194 s run spread, all state-store churn in the default
    HDFS-backed in-memory provider).  RocksDB keeps dedup state
    off-heap with changelog checkpointing, which is what a 100 TB
    at-least-once ingest actually deploys; same duplicate-delivery
    input, same exact-semantics oracle.

    RAISES unless (a) the RocksDB provider visibly ran (its
    customMetrics in the progress) and (b) the final micro-batch's
    state rows are BOUNDED — strictly fewer than the deduped output,
    i.e. the watermark evicted history and state tracks the window,
    not the stream (the structural difference from plain
    ``dropDuplicates``, whose state is all keys ever seen).  The
    provider conf is session-mutating, so it save/restores in a
    finally like the plan-quality family."""
    from .stagecache import scratch_dir
    # foreachBatch → parquet append, not a memory sink: append-mode
    # dedup emits every surviving EVENT, and a memory sink would
    # materialize that whole corpus on the driver — the same
    # driver-bound failure streaming_topk_users_hourly hit at ×100.
    # The deduped stream stays distributed; only the hourly rollup
    # (|hours × types| rows) ever reaches the driver via the gate.
    out = scratch_dir(sf_dir, "events", "stream_dedup_rdb") / "deduped"
    import shutil as _sh
    _sh.rmtree(out, ignore_errors=True)  # append sink: clear prior run

    def _sink(batch_df: "DataFrame", _epoch: int) -> None:
        batch_df.write.mode("append").parquet(str(out))

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")
    try:
        deduped = (_stream_source(spark, sf_dir)
                   .union(_stream_source(spark, sf_dir))
                   .withWatermark("ts", "1 hour")
                   .dropDuplicatesWithinWatermark(["event_id"]))
        writer = (deduped.writeStream.outputMode("append")
                  .foreachBatch(_sink))
        q_handle = run_stream_available_now(writer)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    progress = [p for p in q_handle.recentProgress if p["stateOperators"]]
    if not progress:
        raise AssertionError("no stateful progress recorded")
    last = progress[-1]["stateOperators"][0]
    if not any("rocksdb" in k.lower()
               for k in last.get("customMetrics", {})):
        raise AssertionError(
            "RocksDB state store did not engage — provider conf ignored")
    served = spark.read.parquet(str(out))
    n_out = served.count()
    if not last["numRowsTotal"] < n_out:
        raise AssertionError(
            f"state not watermark-bounded: {last['numRowsTotal']} state "
            f"rows vs {n_out} outputs")
    return (served
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(25,4)"))
                 .cast("double").alias("total_value")))


@q("streaming_interval_join_left", ("ST2", "ST5", "J4"), oracle="""
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       a.user_id AS user_id, a.ts AS click_ts, b.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') a
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""")
def streaming_interval_join_left(spark: "SparkSession",
                                 sf_dir: str) -> "DataFrame":
    """Stream-stream LEFT OUTER interval join — clicks with their
    attributed purchase, or NULLs once the watermark proves no
    purchase can still arrive.  The outer semantics are the hard part
    of streaming joins: unmatched rows may only emit when the global
    watermark passes their eviction bound, and a drained finite input
    leaves the watermark just below its own tail — so real pipelines
    append a WATERMARK HEARTBEAT (a sentinel event past the horizon)
    to flush end-of-stream state.  Two subtleties, both load-bearing:
    state evicted against batch N's watermark only *emits* in batch
    N+1, and ``availableNow`` stops after the last data batch without
    a final no-data flush — so ONE heartbeat still strands the tail.
    We therefore stage TWO heartbeat files (+10 h and +20 h, user_id
    −1) after the base data, force one file per micro-batch, and drop
    the sentinels on output; the emitted rows then hash-match the
    batch LEFT JOIN oracle exactly.

    One more quirk, discovered empirically: when BOTH join inputs are
    the same file source (a self-join), only one of the two
    EventTimeWatermark trackers reports its per-batch max, so under
    the default ``multipleWatermarkPolicy=min`` the global watermark
    sticks at the stuck tracker's pre-heartbeat value and the tail
    never flushes.  Scoped to this query we set the policy to
    ``max`` — safe HERE because both sides drain the identical
    bounded landing dir with shared heartbeats (the true per-side
    watermarks are equal, so max == min over live trackers); it is
    NOT a general substitute for fixing skewed dual-source inputs.

    Scale: identical state bounds to the inner variant — retention is
    (watermark + interval) per key — plus one tombstone row per
    evicted unmatched click; the heartbeat pattern costs one row per
    source per trigger, independent of data size."""

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = raw.schema
    ts_is_long = dict(raw.dtypes).get("ts") == "bigint"
    max_ts = raw.agg(F.max("ts")).first()[0]

    def plus_hours(h: int):
        if ts_is_long:                       # raw long nanoseconds
            return max_ts + h * 3600 * 10 ** 9
        from datetime import timedelta
        return max_ts + timedelta(hours=h)

    land = scratch("ij_left_")
    raw.coalesce(1).write.mode("overwrite").parquet(f"{land}/0_base.parquet")
    for i, hours in enumerate((10, 20), start=1):
        hb = spark.createDataFrame(
            [(-1, plus_hours(hours), -1, "click", 0.0, None),
             (-2, plus_hours(hours), -1, "purchase", 0.0, None)],
            schema=raw_schema)
        hb.coalesce(1).write.mode("overwrite").parquet(
            f"{land}/{i}_heartbeat.parquet")

    def stream():
        return normalize_ts(spark, spark.readStream.schema(raw_schema)
                            .option("recursiveFileLookup", "true")
                            .option("maxFilesPerTrigger", 1).parquet(land),
                            "events")

    clicks = (stream().filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    buys = (stream().filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("user_id").alias("user_id"),
                    F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "2 hours"))
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("user_id")) &
        (F.col("purchase_ts") >= F.col("click_ts")) &
        (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer")
    out = (joined.filter(F.col("click_id") >= 0)
           .select("click_id", "purchase_id",
                   F.col("c_user").alias("user_id"),
                   "click_ts", "purchase_ts"))
    policy_key = "spark.sql.streaming.multipleWatermarkPolicy"
    prev = spark.conf.get(policy_key, "min")
    spark.conf.set(policy_key, "max")
    try:
        return drain_to_memory(out, "append", "stream_ij_left")
    finally:
        spark.conf.set(policy_key, prev)


@q("streaming_hopping_rollup", ("ST5", "A6"), oracle=f"""
SELECT ws AS window_start, event_type,
       COUNT(*) AS n_events, {osum('value')} AS total_value
FROM (
  SELECT e.*, time_bucket(INTERVAL 15 MINUTE, e.ts)
                - t.k * INTERVAL 15 MINUTE AS ws
  FROM events e, LATERAL unnest(generate_series(0, 3)) AS t(k)
)
GROUP BY 1, 2
""")
def streaming_hopping_rollup(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """Hopping (sliding) streaming windows: 1-hour windows advancing
    every 15 minutes, so each event lands in exactly 4 overlapping
    windows — the smoothing rollup tumbling windows can't express
    (ST5 breadth next to streaming_hourly_rollup's tumbling form).

    The batch oracle states the same semantics from first principles:
    every event joins the 4 window starts that cover it.

    Scale: Spark's window() expands each row to its 4 windows BEFORE
    the map-side partial aggregate, so the shuffle carries per-window
    partials, not 4× events; state is (windows alive within watermark)
    × groups.  The overlap factor (window ÷ slide) multiplies Expand
    rows and state linearly — keep it small (4 here) at 100 TB, or
    pre-aggregate to the slide granularity and re-window in batch.
    """
    stream = _stream_source(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                    "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,4)"))
                .cast("double").alias("total_value")))
    return (drain_to_memory(agg, "complete", "stream_hop")
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


@q("streaming_stateful_totals", ("ST4", "A7"), oracle="""
SELECT user_id AS key, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
""")
def streaming_stateful_totals(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py:running_totals): per-user running
    (count, sum) maintained in keyed state across micro-batches,
    drained with Trigger.AvailableNow.

    Determinism: values are quantized to int64 micro-units JVM-side
    before crossing the Arrow boundary, so ``running_totals`` sums a
    long column and the Python processor only adds integers
    (order-independent); the final division back to double and
    DuckDB's decimal→double cast are both correctly rounded, hence
    bit-equal.

    Scale: state is O(distinct keys) in the executor state store;
    update-mode emissions are one row per key per batch.  The memory
    sink accumulates one row per (key, batch) — latest-wins dedup by
    the monotone n_events picks each key's final state, exactly the
    CDC W1 pattern.
    """
    from .streaming.stateful import quantize_micro, running_totals
    stream = _stream_source(spark, sf_dir)
    out = running_totals(
        quantize_micro(stream, "user_id", "value").groupBy("key"),
        "key", "v_micro")
    final = (drain_to_memory(out, "update", "stream_tws")
             .withColumn("rn", F.row_number().over(
                 W.partitionBy("key").orderBy(F.col("n_events").desc())))
             .where("rn = 1"))
    return final.select(
        "key", "n_events",
        (F.col("total") / F.lit(10_000.0)).alias("total_value"))


from .queries_timeseries import ANOMALY_ZSCORE_ORACLE  # noqa: E402


@q("streaming_anomaly_scores", ("ST2", "ST4", "J1", "A7"),
   oracle=ANOMALY_ZSCORE_ORACLE)
def streaming_anomaly_scores(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """Model-scoring-on-stream: per-user moment statistics (Σv, Σv², n
    — exact decimal sums, the 'model') are computed BATCH-side, then
    broadcast into a stateless stream-static join that z-scores every
    arriving event and emits only anomalies.  This is the canonical
    online-inference shape — features/models refresh on a slow batch
    cadence, scoring rides the stream with no state and no watermark —
    and it shares the batch ``anomaly_zscore`` oracle verbatim because
    triggered draining must converge to the same flags.

    At 100 TB the moments relation is one row per entity; if it
    outgrows a broadcast, the join falls back to shuffle on user_id,
    still stateless per micro-batch."""
    batch = load(spark, sf_dir, "events")
    mom = (batch.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(25,4)")).cast("double")
         .alias("s1"),
        F.sum((F.col("value").cast("decimal(18,4)") *
               F.col("value").cast("decimal(18,4)")).cast("decimal(38,8)"))
         .cast("double").alias("s2"),
        F.count("value").cast("double").alias("n")))
    stream = _stream_source(spark, sf_dir)
    v = F.col("value")
    # micro-unit z (floor(z*1e6)) + degenerate-group guard — must stay
    # in lockstep with the batch twin anomaly_zscore (shared oracle)
    s1c, s2c, nc = F.col("s1"), F.col("s2"), F.col("n")
    z_u = to_units((v - s1c / nc) /
                   F.sqrt((s2c - s1c * s1c / nc) / (nc - 1)), 6)
    scored = (stream.join(F.broadcast(mom), "user_id")
              .filter((nc > 1) & (s2c - s1c * s1c / nc > 0))
              .select("event_id", "user_id", "value", z_u.alias("z_u"))
              .filter((F.col("z_u") > 1_500_000)
                      | (F.col("z_u") < -1_500_000)))
    return drain_to_memory(scored, "append", "stream_zscore")


@q("streaming_topk_users_hourly", ("ST5", "W3", "A6"), oracle=f"""
WITH agg AS (
  SELECT DATE_TRUNC('hour', ts) AS hour, user_id,
         {osum('value')} AS total_value
  FROM events GROUP BY 1, 2
), r AS (
  SELECT hour, user_id, total_value,
         ROW_NUMBER() OVER (PARTITION BY hour
                            ORDER BY total_value DESC, user_id) AS rn
  FROM agg
)
SELECT hour, user_id, total_value, CAST(rn AS INT) AS rnk
FROM r WHERE rn <= 3
""")
def streaming_topk_users_hourly(spark: "SparkSession",
                                sf_dir: str) -> "DataFrame":
    """Streaming leaderboard: watermarked tumbling-window per-user
    totals accumulate IN the stream (the heavy, unbounded part); the
    top-K cut runs over the drained/served state (the tiny part) —
    the standard split, because rank-over-window is not an incremental
    streaming operator and forcing it in-stream would mean
    complete-mode recomputes of every window.  Per-hour ties break on
    user_id; totals are exact decimal sums so ranks are
    engine-stable.  At scale the serving-side rank is WindowGroupLimit
    over |windows × keys| aggregated rows, not raw events.

    The drain is ``foreachBatch`` → parquet overwrite, NOT a memory
    sink: complete mode re-emits the FULL |windows × keys| state each
    batch, and a memory sink materializes that on the driver — the
    ×100 replica blew ``spark.driver.maxResultSize`` (1026 MiB of
    task results) exactly there.  Writing each complete emission over
    a scratch table keeps the state distributed end-to-end; the rank
    then reads it back like any other table."""
    from .stagecache import scratch_dir
    stream = _stream_source(spark, sf_dir)
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
           .agg(F.sum(F.col("value").cast("decimal(25,4)"))
                .cast("double").alias("total_value")))
    # per-(source, process) scratch, overwritten per run (no per-call
    # mkdtemp leak, no cross-session overwrite race); each
    # complete-mode emission rewrites the whole state
    out = scratch_dir(sf_dir, "events", "stream_topk") / "state"

    def _sink(batch_df: "DataFrame", _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(str(out))

    writer = (agg.writeStream.outputMode("complete")
              .foreachBatch(_sink))
    run_stream_available_now(writer)
    served = (spark.read.parquet(str(out))
              .select(F.col("w.start").alias("hour"), "user_id",
                      "total_value"))
    rank = W.partitionBy("hour").orderBy(F.col("total_value").desc(),
                                         F.col("user_id"))
    return (served.withColumn("rnk", F.row_number().over(rank))
            .filter(F.col("rnk") <= 3)
            .withColumn("rnk", F.col("rnk").cast("int")))


@q("streaming_apply_changes", ("ST1", "ST2", "ST3", "W1"), oracle="""
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type, ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""")
def streaming_apply_changes(spark: "SparkSession",
                            sf_dir: str) -> "DataFrame":
    """APPLY CHANGES INTO, streaming form — the reference's [DOC] CDC
    headline (README_DBT.md:242-244) end-to-end: a CDC file stream
    drained by ``foreachBatch(ApplyChanges.apply)``, whose stored
    current state must equal the one-shot latest-wins window over all
    changes.

    The landing dir is staged as THREE files split by ``event_id % 3``
    — each micro-batch (maxFilesPerTrigger=1) carries a time-
    INTERLEAVED slice, so convergence genuinely exercises the
    out-of-order upsert path (an older change arriving after a newer
    one must lose), not just append order.  Merge cost per batch is
    O(batch + state-keys); checkpointed source offsets give exactly-
    once across restarts (test_streaming covers the two-wave rerun).
    """
    from .operators.scd import ApplyChanges

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = raw.schema

    land = scratch("apply_stream_")
    for i in range(3):
        (raw.filter(F.col("event_id") % 3 == i).coalesce(1)
         .write.mode("overwrite").parquet(f"{land}/slice_{i}.parquet"))

    stream = normalize_ts(spark, spark.readStream.schema(raw_schema)
                          .option("recursiveFileLookup", "true")
                          .option("maxFilesPerTrigger", 1).parquet(land),
                          "events")
    changes = stream.select("user_id", "event_id", "ts", "event_type")

    ac = ApplyChanges(
        spark, scratch("apply_stream_state_") + "/state",
        key="user_id", order_col="ts", tiebreak="event_id")
    writer = (changes.writeStream
              .foreachBatch(lambda df, epoch: ac.apply(df, epoch))
              .option("checkpointLocation", f"{land}/_checkpoint"))
    run_stream_available_now(writer)
    return ac.read()


from .queries_drift import (PSI_ORACLE, _SEG as _PSI_SEG,  # noqa: E402
                            psi_bin, psi_from_bin_counts)


@q("streaming_psi_drift", ("ST2", "ST4", "A1"), oracle=PSI_ORACLE)
def streaming_psi_drift(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Drift gate ON the stream: the live segment's PSI bin counts
    accumulate as a streaming aggregation (complete-mode state is one
    row per bin — constant size, no watermark needed), the reference
    segment's histogram comes from the frozen batch side, and the
    PSI reduction runs over the drained bin state in the serving
    layer.  This is how a training-data platform actually gates an
    ingest feed: the stream maintains the cheap sufficient statistic
    (bin counts), the decision statistic is recomputed from it on
    demand.  Shares the batch ``psi_drift_bins`` oracle verbatim —
    triggered draining must converge to the identical psi_nano.

    At 100 TB/day the streaming state is still `bins` rows; the only
    scale knob is the pre-shuffle partial aggregation Spark already
    does for streaming groupBy.
    """
    batch = load(spark, sf_dir, "events")
    ga = (batch.filter(F.col("value").isNotNull() &
                       (F.col("event_type") == _PSI_SEG["a"]))
          .select(psi_bin().alias("bin"))
          .groupBy("bin").agg(F.count("*").alias("ra")))
    stream = _stream_source(spark, sf_dir)
    live = (stream.filter(F.col("value").isNotNull() &
                          (F.col("event_type") == _PSI_SEG["b"]))
            .select(psi_bin().alias("bin"))
            .groupBy("bin").agg(F.count("*").alias("rb")))
    return psi_from_bin_counts(
        spark, ga, drain_to_memory(live, "complete", "stream_psi"))


@q("streaming_hll_rollup", ("ST5", "A8", "A6"), oracle="""
SELECT CAST(DATE_TRUNC('week', DATE_TRUNC('day', ts)) AS TIMESTAMP)
         AS week,
       event_type,
       COUNT(DISTINCT user_id) AS distinct_exact,
       TRUE AS within_envelope,
       TRUE AS stream_matches_batch
FROM events GROUP BY 1, 2
""")
def streaming_hll_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sketch state ON the stream: per-(day, type) HLL sketches
    accumulate as the streaming aggregation state (KB per group —
    constant-size, unlike exact distinct which is O(devices) state per
    group), and the week-level distinct count is served by merging the
    drained day sketches with ``hll_union_agg`` — the streaming twin
    of ``hll_mergeable_rollup`` and the standard way a 100 TB platform
    keeps live distinct-count dashboards without a dropDuplicates
    state explosion.

    Gated claims (both scale-invariant — VERDICT r8 #4 replaced the
    old exact-distinct oracle, a documented ×10/×100 FAIL once lgK=21
    sketches leave coupon mode):

    - ``within_envelope``: the week-level estimate served from the
      STREAM-accumulated sketches sits within the ±3σ family envelope
      of exact COUNT(DISTINCT).
    - ``stream_matches_batch``: the stream-state sketches yield the
      IDENTICAL week estimates as sketches built by a one-shot batch
      aggregation of the same events — Datasketches sketch building
      and unions are insertion-order- and micro-batch-split-
      insensitive, so this pins exactly the streaming property the
      query exists for (incremental state accumulation ≡ batch), and
      it holds in any estimate regime.

    Differs from ``streaming_hll_envelope`` (the plain envelope twin)
    by the stream≡batch consistency claim."""
    stream = _stream_source(spark, sf_dir)
    daily = (stream.groupBy(F.date_trunc("day", "ts").alias("day"),
                            "event_type")
             .agg(F.hll_sketch_agg("user_id", F.lit(21)).alias("sk")))
    week = F.date_trunc("week", "day").alias("week")
    est_s = (drain_to_memory(daily, "complete", "stream_hll")
             .groupBy(week, "event_type")
             .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                  .alias("est_s")))
    e = load(spark, sf_dir, "events")
    est_b = (e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.hll_sketch_agg("user_id", F.lit(21)).alias("sk"))
             .groupBy(week, "event_type")
             .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                  .alias("est_b")))
    exact = (e.groupBy(F.date_trunc("week",
                                    F.date_trunc("day", "ts")).alias("week"),
                       "event_type")
             .agg(F.countDistinct("user_id").alias("distinct_exact")))
    from .queries_analytics import _hll_within
    return (exact.join(est_s, ["week", "event_type"])
            .join(est_b, ["week", "event_type"])
            .select("week", "event_type", "distinct_exact",
                    _hll_within("est_s", "distinct_exact")
                    .alias("within_envelope"),
                    (F.col("est_s") == F.col("est_b"))
                    .alias("stream_matches_batch")))


from .queries_analytics import HLL_WEEKLY_ENVELOPE_ORACLE  # noqa: E402


@q("streaming_hll_envelope", ("ST5", "A8", "A6"),
   oracle=HLL_WEEKLY_ENVELOPE_ORACLE)
def streaming_hll_envelope(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Error-envelope twin of ``streaming_hll_rollup`` — the streaming
    member of the envelope family: sketches accumulate as streaming
    state exactly as in the sibling, then the drained day sketches go
    through the SAME week-level envelope builder and oracle as the
    batch twin (queries_analytics.hll_weekly_envelope — one definition
    of the bound/lgK/week-trunc for the whole family), so the served
    claim — the ±3σ boolean against exact COUNT(DISTINCT) — stays
    hash-comparable after the sketch leaves the exact coupon regime
    (the sibling's documented ×10 FAIL)."""
    from .queries_analytics import hll_weekly_envelope
    stream = _stream_source(spark, sf_dir)
    daily = (stream.groupBy(F.date_trunc("day", "ts").alias("day"),
                            "event_type")
             .agg(F.hll_sketch_agg("user_id", F.lit(21)).alias("sk")))
    return hll_weekly_envelope(
        drain_to_memory(daily, "complete", "stream_hllenv"),
        load(spark, sf_dir, "events"))


@q("streaming_incremental_join_rollup", ("ST1", "ST2", "ST3", "A6", "J1"),
   oracle="""
SELECT n.n_name AS nation,
       COUNT(*) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS sum
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""")
def streaming_incremental_join_rollup(spark: "SparkSession",
                                      sf_dir: str) -> "DataFrame":
    """The join-MV maintained FROM A STREAM: order files drain through
    ``foreachBatch(IncrementalJoinAggTable.refresh)`` (partials at
    customer granularity, exactly-once via checkpointed offsets), then
    the customer→nation dim applies at read time — and the result must
    hash-equal the one-shot 3-way join.  This is the full DLT
    "streaming materialized view with a join" story: per-batch cost is
    O(batch + state-keys), the dim is consulted only at read, and a
    dim change between batches would need zero reprocessing.
    """
    from .engine.incremental import (IncrementalJoinAggTable,
                                     mergeable_metrics)
    from .queries import load

    o = load(spark, sf_dir, "orders")
    land = scratch("inc_join_stream_")
    for i in range(3):
        (o.filter(F.col("o_orderkey") % 3 == i).coalesce(1)
         .write.mode("overwrite").parquet(f"{land}/slice_{i}.parquet"))

    stream = (spark.readStream.schema(o.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(land))
    t = IncrementalJoinAggTable(
        spark, scratch("inc_join_stream_state_") + "/state",
        keys=["o_custkey"],
        metrics=[m for m in mergeable_metrics("o_totalprice")
                 if m.name in ("n", "sum")])
    writer = (stream.writeStream
              .foreachBatch(lambda df, epoch: t.refresh(df, epoch))
              .option("checkpointLocation", f"{land}/_checkpoint"))
    run_stream_available_now(writer)

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    dim = (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
           .select(F.col("c_custkey").alias("o_custkey"),
                   F.col("n_name").alias("nation")))
    return (t.read_joined(dim, "o_custkey", ["nation"], ["nation"])
            .select("nation", "n",
                    F.col("sum").cast("double").alias("sum")))


def _qsk_oracle() -> str:
    from .queries_stats import _QSK_CTE
    return f"WITH {_QSK_CTE}\nSELECT day, m, p50_est, p90_est FROM est"


@q("streaming_quantile_sketch", ("ST1", "ST3", "A8", "A6"),
   oracle=_qsk_oracle())
def streaming_quantile_sketch(spark: "SparkSession",
                              sf_dir: str) -> "DataFrame":
    """Quantile sketch maintained FROM A STREAM: event slices drain
    through ``foreachBatch``, each micro-batch's hashed rows merge
    into a k-row-per-day parquet state table via ``bottom_k`` (union
    with previous state, re-cut — writes go to a fresh versioned dir,
    never over the dir being read), and p50/p90 are served from the
    final state.  The bottom-k semilattice (operators/qsketch.py)
    guarantees the ARRIVAL-ORDER merge tree lands on the exact same
    sample as the batch hour→day rollup — so this streaming query
    carries the FULL batch SQL oracle (the shared ``_QSK_CTE`` recipe,
    hour-merged), not a weaker rows-only check: the gate certifies
    that slicing by event_id, draining one file per trigger, and
    merging batch-by-batch is bit-identical to the one-shot rollup.

    Scale design: per-batch cost is O(batch + days×k) — the state
    table never exceeds k rows per day regardless of stream length
    (the streaming twin of the HLL sketch state in
    streaming_hll_rollup, for order statistics).  A production table
    would keep the engine's epoch-replay guard
    (engine/incremental.py); the availableNow gate run is
    single-epoch by construction."""
    from .operators.qsketch import bottom_k, sample_quantiles, sketch_hash
    from .queries_stats import _QSK

    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    land = scratch("qsk_stream_")
    for i in range(3):
        (e.filter(F.col("event_id") % 3 == i).coalesce(1)
         .write.mode("overwrite").parquet(f"{land}/slice_{i}.parquet"))

    stream = (spark.readStream.schema(e.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(land))
    root = scratch("qsk_state_")
    state: dict = {"dir": None, "v": 0}

    def _merge(batch, _epoch):
        b = (batch.filter(F.col("value").isNotNull())
             .select(F.date_trunc("day", "ts").alias("day"),
                     "value", "event_id",
                     sketch_hash(F.col("event_id")).alias("h")))
        if state["dir"] is not None:
            b = b.unionByName(spark.read.parquet(state["dir"]))
        nxt = f"{root}/v{state['v']}"
        bottom_k(b, ["day"], _QSK["k"]).write.mode("overwrite").parquet(nxt)
        state["dir"], state["v"] = nxt, state["v"] + 1

    writer = (stream.writeStream.foreachBatch(_merge)
              .option("checkpointLocation", f"{land}/_checkpoint"))
    run_stream_available_now(writer)

    if state["dir"] is None:   # zero-input stream: empty typed result
        empty = spark.createDataFrame(
            [], "day timestamp, value double, event_id bigint, h string")
        return sample_quantiles(empty, ["day"], "value", "event_id",
                                (50, 90))
    sk = spark.read.parquet(state["dir"])
    return sample_quantiles(sk, ["day"], "value", "event_id", (50, 90))


# =========================================================================
# Late-data watermark semantics ([EXT] ST5 — the one streaming behavior
# the rest of the family never exercises: every other streaming query's
# result is order-insensitive (semilattice merges, latest-wins, complete
# mode), so its watermark never DROPS anything.  This query stages an
# out-of-order replay where specific rows genuinely arrive late, and the
# oracle replays Spark's drop/eviction rules bit-exactly.)
# =========================================================================

#: watermark delay (must match the withWatermark literal below), the
#: staged batch count, and the straggler hash spec (the repo's shared
#: engine-portable md5 bucket; 1 of 8 ⇒ 12.5% stragglers) — module
#: constants so the oracle CTE and the Spark stager can never drift
#: apart.
_LATE = {"delay_ms": 7_200_000, "delay": "2 hours", "n_batches": 4,
         "seed": "late", "mod": 8}

#: NULL-total straggler key: a NULL event_id must take the SAME branch
#: in both engines (Spark's F.least would silently skip a null term
#: while SQL CASE would not — the sentinel removes the asymmetry
#: before any hash is computed).  A real bigint can never render as
#: the sentinel string.
_LATE_KEY_SQL = "COALESCE(CAST(event_id AS VARCHAR), 'null')"

#: Pinned microbatch watermark semantics (Spark 4.1, availableNow,
#: append mode; measured empirically — tests/test_streaming_late.py
#: re-asserts every clause on crafted timestamps so a Spark upgrade
#: that changes any of them fails loudly instead of silently breaking
#: the oracle):
#:   1. files are processed in ascending MODIFICATION-TIME order (one
#:      file per batch under maxFilesPerTrigger=1) — the stager pins
#:      mtimes explicitly;
#:   2. the watermark after batch k is the cumulative max over batches
#:      <= k of floor_to_ms(max event time) - delay_ms (the engine
#:      tracks event time in ms; note that against HOUR-ALIGNED window
#:      ends an inclusive boundary makes sub-ms truncation
#:      unobservable, so the oracle's floor-to-ms is exact either way);
#:   3. batch n's late filter drops an input row iff its window END
#:      <= the watermark through batch n-2 (the late filter runs one
#:      batch BEHIND eviction — "previous watermark"), inclusive at
#:      equality;
#:   4. a window is emitted (append mode) in the first batch whose
#:      eviction watermark — through batch n-1, plus the final no-data
#:      flush batch through the last — satisfies window end <= wm,
#:      inclusive at equality; later windows stay in state unemitted.
_LATE_ORACLE = f"""
WITH span AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT DATE_TRUNC('hour', ts) AS hour,
         epoch_us(DATE_TRUNC('hour', ts)) // 1000 + 3600000 AS wend_ms,
         epoch_us(ts) // 1000 AS ms, value,
         LEAST(CAST((4 * (epoch_us(ts) - lo)) // (hi - lo + 1) AS INT)
               + 2 * (CASE WHEN
                        {_o_hash_bucket(_LATE_KEY_SQL, _LATE['seed'],
                                        _LATE['mod'])} = 0
                      THEN 1 ELSE 0 END),
               {_LATE['n_batches'] - 1}) AS batch
  FROM events, span WHERE ts IS NOT NULL
), spine AS (
  SELECT * FROM (VALUES {', '.join(f'({i})'
                         for i in range(_LATE['n_batches']))}) AS t(batch)
), wmx AS (
  SELECT s.batch, MAX(b.ms) - {_LATE['delay_ms']} AS wm_b
  FROM spine s LEFT JOIN b ON b.batch = s.batch GROUP BY s.batch
), thr AS (
  SELECT batch,
         COALESCE(MAX(wm_b) OVER (ORDER BY batch
             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING), 0)
           AS wm_late
  FROM wmx
), fin AS (SELECT MAX(wm_b) AS wm_fin FROM wmx)
SELECT hour, COUNT(*) AS n_events, {osum('value')} AS total_value
FROM b JOIN thr USING (batch), fin
WHERE b.wend_ms > thr.wm_late AND b.wend_ms <= fin.wm_fin
GROUP BY hour
"""


def stage_late_replay(spark: "SparkSession", df: "DataFrame",
                      land: str) -> None:
    """Stage ``df`` (ts/value/event_id) as {n_batches} mtime-ordered
    slice files simulating a mostly-ordered stream with stragglers:
    rows fall into time-quarters of the data span (batches 0-3 in
    order), except a deterministic 1/8 subset (the shared hash_bucket
    recipe on event_id, its own 'late' seed domain) is displaced TWO
    batches later — far enough that a 2h watermark has passed when the
    straggler's window arrives, so the late path genuinely fires
    (a +1 displacement never drops anything: the late filter lags one
    batch behind).  Slice mtimes are pinned with os.utime because the
    file source orders by modification time, not name."""
    import os

    from .operators.packing import hash_bucket

    lo, hi = df.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    if lo is None:           # zero-input stream: stage empty slices so
        lo = hi = 0          # the drained result is an empty typed frame
    us = F.unix_micros(F.col("ts"))
    num = (us - F.lit(lo)) * 4
    den = F.lit(int(hi) - int(lo) + 1)
    quart = ((num - num % den) / den).cast("int")   # non-negative ops
    key = F.coalesce(F.col("event_id").cast("string"), F.lit("null"))
    strag = (hash_bucket(key, _LATE["seed"], _LATE["mod"]) == 0).cast("int")
    staged = df.withColumn(
        "_b", F.least(quart + 2 * strag, F.lit(_LATE["n_batches"] - 1)))
    # one materialization of the scan + hash math; the per-slice
    # filter-writes below then read the cache, not the raw parquet
    staged = staged.persist()
    try:
        for i in range(_LATE["n_batches"]):
            d = f"{land}/slice_{i}.parquet"
            (staged.filter(F.col("_b") == i).drop("_b")
             .coalesce(1).write.mode("overwrite").parquet(d))
            mt = 1_000_000 + i * 100
            for fn in os.listdir(d):
                os.utime(os.path.join(d, fn), (mt, mt))
    finally:
        staged.unpersist()


stage_late_replay.__doc__ = stage_late_replay.__doc__.format(
    n_batches=_LATE["n_batches"])


@q("streaming_late_data_drop", ("ST1", "ST3", "ST5", "A6"),
   oracle=_LATE_ORACLE)
def streaming_late_data_drop(spark: "SparkSession",
                             sf_dir: str) -> "DataFrame":
    """Watermark late-data semantics, end-to-end: an out-of-order event
    replay (time-quartered slices with a deterministic straggler
    population arriving two batches late — stage_late_replay) drains
    through a watermarked tumbling-window aggregation in APPEND mode,
    so the watermark actually DROPS the stale stragglers and HOLDS
    BACK the still-open tail windows — the two behaviors that make
    streaming state bounded at 100 TB, and that none of the
    order-insensitive streaming siblings can exhibit.

    The full-strength oracle replays the drop rule row-for-row (the
    _LATE_ORACLE comment pins the measured microbatch semantics:
    mtime batch order, ms-truncated cumulative watermark, late filter
    one batch behind eviction and inclusive at equality, inclusive
    emission) — so the gate certifies the exact drop/holdback set,
    not just "some aggregation ran".

    Scale design: state is one row per OPEN window (watermark evicts
    everything older), the late filter discards stale rows before they
    shuffle into state, and per-batch cost is O(batch + open windows).
    tests/test_streaming_late.py guards the pinned semantics and that
    the demo is non-degenerate (drops > 0, holdback > 0)."""

    e = (load(spark, sf_dir, "events")
         .filter(F.col("ts").isNotNull())
         .select("ts", "value", "event_id"))
    land = scratch("late_stream_")
    stage_late_replay(spark, e, land)

    stream = (spark.readStream.schema(e.schema)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(land))
    agg = (stream.withWatermark("ts", _LATE["delay"])
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,4)"))
                .cast("double").alias("total_value")))
    return (drain_to_memory(agg, "append", "stream_late",
                            checkpoint=f"{land}/_checkpoint")
            .select(F.col("w.start").alias("hour"),
                    "n_events", "total_value"))
