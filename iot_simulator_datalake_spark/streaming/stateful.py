"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.8; the OSS mechanism for operators DLT expresses as
stateful incremental computations).

The state handle is Spark's own keyed state store (RocksDB/HDFS-backed
per executor at scale) — state volume is O(distinct keys), never
O(events), and each micro-batch touches only the keys present in it.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

import pandas as pd

from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def running_totals(grouped, key_col: str, value_col: str) -> "DataFrame":
    """Per-key running (count, sum) maintained across micro-batches.

    Usage::

        stream.groupBy("user_id") |> running_totals("user_id", "value")

    Emits one updated ``(key, n_events, total)`` row per key per
    micro-batch (update semantics).  Both types follow the grouped
    stream: the key keeps its column's type (a hardcoded LongType key
    made every string-keyed stream, the simulator's own 'dev-0' ids,
    die at Arrow conversion), and the total keeps its value column's
    kind, as SQL ``SUM`` does — an integral column sums exactly in
    Python ints into a long (order-independent, hence bit-equal across
    partitionings, batch splits and retries; ``quantize_micro`` feeds
    this path), any other column into a double.
    """
    schema = grouped._df.schema
    integral = isinstance(schema[value_col].dataType, T.IntegralType)
    num, total_type = (int, T.LongType()) if integral else \
        (float, T.DoubleType())

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, num(0))
        for pdf in pdfs:
            n += len(pdf)
            total += num(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n],
                            "total": [total]})

    return grouped.applyInPandasWithState(
        update,
        outputStructType=T.StructType([
            T.StructField("key", schema[key_col].dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("total", total_type)]),
        stateStructType=T.StructType([
            T.StructField("n", T.LongType()),
            T.StructField("total", total_type)]),
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def quantize_micro(stream: "DataFrame", key_col: str,
                   value_col: str) -> "DataFrame":
    """JVM-side quantization (decimal(25,4) → int64 micro-units) so
    quantization runs in codegen before rows cross the Arrow boundary."""
    from pyspark.sql import functions as F
    return stream.select(
        F.col(key_col).alias("key"),
        (F.col(value_col).cast("decimal(25,4)") * 10_000)
        .cast("long").alias("v_micro"))
