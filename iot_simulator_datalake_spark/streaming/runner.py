"""Triggered streaming-table materialization.

The reference's streaming tables run in *triggered* mode — drain all
available input, then stop (README_DBT.md:213 "Triggered Mode: Not
continuous"; bronze_iot_events.sql:2,8-9 for the streaming-table
semantics; silver_iot_events.sql:10-12 for table-to-table incremental
reads).  The OSS equivalent is ``Trigger.AvailableNow`` with a
checkpoint directory: the checkpoint's source-offset log gives
exactly-once file discovery (ST1) and stream-to-stream incremental
propagation (ST2) across repeated runs.

Scale note: the parquet streaming sink appends one commit per
micro-batch; with availableNow Spark splits the backlog into
maxFilesPerTrigger-sized batches, so state stays bounded no matter how
large the landing directory has grown.  Each micro-batch is written as
⌈batch bytes / ``spark.sql.files.maxPartitionBytes``⌉ files, never more
than its input splits, so a small refresh lands as one file, not one
per core — the file sizing the reference's platform does for its
streaming tables (README_DBT.md:103-104, 227).  The size comes from
the micro-batch plan's statistics, so no job runs.
"""

from __future__ import annotations

import uuid
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.streaming import DataStreamWriter


def run_stream_available_now(writer: "DataStreamWriter",
                             timeout_sec: float = 600.0):
    """Start a triggered (availableNow) streaming query and block until
    it has drained all currently-available input.  Returns the
    (terminated) query handle so callers can assert on its progress
    metrics (state rows, state-store custom metrics)."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not drain within "
                f"{timeout_sec}s")
        if q.exception() is not None:
            raise q.exception()  # type: ignore[misc]
    finally:
        if q.isActive:
            q.stop()
    return q


def drain_to_memory(stream_df: "DataFrame", output_mode: str,
                    prefix: str, checkpoint: str | None = None
                    ) -> "DataFrame":
    """Drain a streaming DataFrame (availableNow) into a fresh in-memory
    table named ``<prefix>_<8 hex>`` and return a batch DataFrame over
    it — how a query reads a stream's complete result.  ``output_mode``
    is the sink's (append / complete / update); ``checkpoint`` pins the
    query's checkpoint dir (default: a temporary one)."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    writer = (stream_df.writeStream.outputMode(output_mode)
              .format("memory").queryName(name))
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    run_stream_available_now(writer)
    return stream_df.sparkSession.table(name)


def materialize_streaming_table(spark: "SparkSession", stream_df: "DataFrame",
                                path: Path, checkpoint: Path,
                                partition_by: tuple[str, ...] = (),
                                timeout_sec: float = 600.0) -> "DataFrame":
    """Drain a streaming DataFrame into a parquet table exactly-once and
    return a batch DataFrame over the result (⇔ a DLT streaming table:
    incremental append, re-runs only process new input).
    """
    if not stream_df.isStreaming:
        raise ValueError("materialize_streaming_table needs a streaming "
                         "DataFrame (use spark.readStream)")
    sink = _parquet_file_sink(spark, path, partition_by)

    def write_batch(batch_df: "DataFrame", batch_id: int) -> None:
        sink.addBatch(batch_id, batch_df.coalesce(_file_count(batch_df))._jdf)

    writer = (stream_df.writeStream
              .foreachBatch(write_batch)
              .outputMode("append")
              .option("checkpointLocation", str(checkpoint)))
    run_stream_available_now(writer, timeout_sec=timeout_sec)
    # Read back with the STREAM's schema rather than letting inference
    # run and casting after it.  Three reasons: (a) a zero-input run
    # wrote no parquet file, and inference on the empty dir would raise
    # — with a given schema it is an empty frame with the stream's
    # columns, so empty landing dirs / no-new-data re-runs are clean
    # no-ops for downstream models; (b) partitioned read-back moves
    # partition columns last and re-types them via directory-value
    # inference; (c) a cast AFTER inference is lossy — a string
    # partition value like '0123' infers as int 123 and casts back to
    # '123' (and '1.50' → '1.5'), silently corrupting numeric-looking
    # string keys.  A user-specified schema makes Spark parse the
    # directory values directly as the declared type (no inference) and
    # pins the column order.
    return spark.read.schema(stream_df.schema).parquet(str(path))


def batch_bytes(batch_df: "DataFrame") -> int:
    """Estimated size of a foreachBatch micro-batch, read from plan
    statistics so no job runs: the batch is a ``LogicalRDD`` carrying
    its origin plan's stats (for a file source, the batch's file
    bytes).  A source without size stats reports Spark's default size
    (effectively unbounded)."""
    return int(batch_df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def _file_count(batch_df: "DataFrame") -> int:
    """Files to write a micro-batch as: ⌈bytes / split size⌉, at least
    one, clamped to the JVM int range ``coalesce`` takes.  ``coalesce``
    never raises the partition count, so a batch keeps at most its own
    input splits."""
    split = (batch_df._jdf.sparkSession().sessionState().conf()
             .filesMaxPartitionBytes())
    return min(2**31 - 1, max(1, -(-batch_bytes(batch_df) // split)))


def _parquet_file_sink(spark: "SparkSession", path: Path,
                       partition_by: tuple[str, ...]):
    """Spark's own parquet streaming sink on ``path`` — the one
    ``writeStream.format("parquet")`` builds.  Its ``_spark_metadata``
    log is the table's commit record: ``addBatch`` skips a batchId it
    already holds (replay after a crash) and readers list only the
    files it committed."""
    jvm = spark._jvm
    utils = jvm.org.apache.spark.api.python.PythonUtils
    # Spark 4.x moved the class into ``.sinks`` (3.x: ``streaming``)
    return jvm.org.apache.spark.sql.execution.streaming.sinks.FileStreamSink(
        spark._jsparkSession, str(path),
        jvm.org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat(),
        utils.toSeq(list(partition_by)),
        utils.toScalaMap({"path": str(path)}))
