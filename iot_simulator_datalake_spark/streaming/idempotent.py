"""Idempotent foreachBatch sink — exactly-once delivery to sinks that
are not transactional with the streaming checkpoint.

Structured Streaming's checkpoint guarantees each micro-batch is
DELIVERED at least once to ``foreachBatch``; after a crash between the
sink write and the offset commit, the SAME batchId is replayed.  Sinks
that cannot participate in the checkpoint transaction (JDBC, REST,
plain files outside the sink's own log) therefore need the standard
idempotence recipe: record (batchId) in a commit log atomically WITH
the write, and skip batchIds already committed.  That is what every
"exactly-once to external system" integration (Delta's
txnAppId/txnVersion, Kafka transactional producer wrappers) does;
here it is explicit and testable.

Scale: the commit log is one tiny file per batch (object-store
friendly, no read-modify-write races — presence IS the commit),
written whole through :func:`engine.publish.write_file_atomic`; the
data write itself is whatever the batch function does, unchanged.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path
from typing import TYPE_CHECKING, Callable

from ..engine.publish import write_file_atomic

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


class IdempotentBatchSink:
    """Wrap a batch-write function for use with ``foreachBatch`` so
    replayed batchIds become no-ops.

    ``write_fn(df, batch_id)`` must stage its output under
    ``staging_dir(batch_id)`` (provided) and the sink promotes staging
    + commit marker together: the marker is written only after the
    data rename succeeds, and replays of a marked batch skip before
    any write.  A crash BETWEEN rename and marker re-runs the batch:
    the stale staged/renamed data for that batchId is overwritten by
    the deterministic re-write, which is exactly why the data path is
    keyed by batch_id.
    """

    def __init__(self, root: str | Path,
                 write_fn: Callable[["DataFrame", int, Path], None]):
        self.root = Path(root)
        self.commits = self.root / "_commits"
        self.commits.mkdir(parents=True, exist_ok=True)
        self.write_fn = write_fn
        self.skipped: list[int] = []   # replay observability
        self.written: list[int] = []

    def _marker(self, batch_id: int) -> Path:
        return self.commits / f"{batch_id}.json"

    def is_committed(self, batch_id: int) -> bool:
        return self._marker(batch_id).exists()

    def __call__(self, df: "DataFrame", batch_id: int) -> None:
        if self.is_committed(batch_id):
            self.skipped.append(batch_id)
            return
        out = self.root / f"batch_id={batch_id}"
        staging = self.root / f".staging-{batch_id}"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)   # partial prior attempt
        self.write_fn(df, batch_id, staging)
        # row count from the STAGED parquet footers (a metadata-sized
        # read), never df.count(): a foreachBatch frame re-reads its
        # source per action, so counting the input would scan every
        # batch twice — and could fail AFTER the data rename if the
        # source files were compacted away, forcing a full replay
        try:
            rows = df.sparkSession.read.parquet(str(staging)).count()
        except Exception:
            rows = None                          # non-parquet write_fn
        staging.replace(out)                     # atomic dir rename
        write_file_atomic(self._marker(batch_id), json.dumps(  # commit point
            {"batch_id": batch_id, "rows": rows, "ts": time.time()}))
        self.written.append(batch_id)


def parquet_batch_writer(df: "DataFrame", batch_id: int,
                         staging: Path) -> None:
    """Default write_fn: parquet into the staging dir."""
    df.write.mode("overwrite").parquet(str(staging))
