"""JSON landing-directory source — the OSS Auto Loader substitute.

The reference ingests with Databricks Auto Loader: ``SELECT * FROM
STREAM read_files(path, format => 'json')`` with inferred schema
(bronze_iot_events.sql:10-15; schema inference + evolution per
README_DBT.md:96-97).  OSS Structured Streaming requires an explicit
schema for streaming JSON, so we use the standard substitute
(SURVEY §1.2): infer once from a bounded batch sample, persist the
schema JSON next to the checkpoint (replaced whole through
``engine.publish.write_file_atomic``), and feed it to ``readStream``.
Re-runs reuse the persisted schema (stable contract); an explicit
``evolve=True`` re-infers and unions the schemas (ST6 schema-evolution
support, README_DBT.md:97).

Scale note: inference samples at most ``sample_files`` files — never a
full scan of a 100 TB landing volume.
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from ..engine.publish import write_file_atomic

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def infer_persist_schema_core(path: str | Path,
                              schema_store: str | Path,
                              infer, glob: str,
                              sample_files: int = 64,
                              evolve: bool = False,
                              suffixes: tuple[str, ...] = ()) -> T.StructType:
    """Format-agnostic infer-once-persist discipline (shared by the
    JSON and CSV sources so the store-check / bounded-sample / evolve
    contracts cannot drift apart): if the store exists return it
    verbatim (unless ``evolve``, which merges stored + fresh fields —
    new fields append, conflicting types widen to string);
    ``infer(sample)`` maps a file list (or the dir path) to a schema.
    ``suffixes`` scopes the glob-miss fallback listing to the format's
    plausible data extensions.
    """
    # sample_files is the module's bounded-scan contract — clamp the
    # degenerate 0/negative ask to 1 rather than letting the tail slice
    # below ([-0:]) silently select the ENTIRE landing listing
    sample_files = max(1, sample_files)
    store = Path(schema_store)
    stored: T.StructType | None = None
    if store.exists():
        stored = T.StructType.fromJson(json.loads(store.read_text()))
        if not evolve:
            return stored

    all_files = sorted(str(p) for p in Path(path).glob(glob))
    if not all_files:
        # glob miss (e.g. .json.gz / .jsonl names the stream itself
        # reads fine): fall back to a BOUNDED listing of regular
        # files, never a whole-dir spark.read — the unbounded scan
        # would break the module's bounded-sample contract exactly on
        # the 100 TB landing volume it exists for.  The listing is
        # scoped to the format's plausible extensions: a stray
        # README.md in the landing dir would otherwise feed the
        # inferrer a non-data file and PERSIST a _corrupt_record
        # column into the stored contract.
        all_files = sorted(
            str(p) for p in Path(path).rglob("*")
            if p.is_file() and not p.name.startswith(("_", "."))
            and (not suffixes
                 or p.name.lower().endswith(suffixes)))
    if len(all_files) <= sample_files:
        files = all_files
    else:
        # half from each END: the lexicographic head preserves the
        # original stable-contract sample, and the tail is where
        # schema evolution actually lands (part numbers and
        # date-named files sort new-last) — a head-only sample
        # re-inferred the SAME old files forever once the landing dir
        # outgrew sample_files, silently no-opping evolve=True
        head = all_files[:sample_files // 2]
        tail_n = sample_files - len(head)  # ≥1 after the clamp above
        files = head + all_files[-tail_n:]
    sample = files if files else str(path)
    inferred = infer(sample)

    if stored is not None:
        merged = list(stored.fields)
        names = {f.name for f in merged}
        for f in inferred.fields:
            if f.name not in names:
                merged.append(f)
            else:
                old = next(x for x in merged if x.name == f.name)
                if old.dataType != f.dataType:
                    # type conflict → widen to string (lossless for JSON)
                    merged[merged.index(old)] = T.StructField(
                        f.name, T.StringType(), True)
        inferred = T.StructType(merged)

    store.parent.mkdir(parents=True, exist_ok=True)
    write_file_atomic(store, json.dumps(inferred.jsonValue()))
    return inferred


def infer_and_persist_schema(spark: "SparkSession", path: str | Path,
                             schema_store: str | Path,
                             sample_files: int = 64,
                             evolve: bool = False) -> T.StructType:
    """Infer the JSON schema from a bounded sample and persist it (the
    shared :func:`infer_persist_schema_core` discipline over JSON)."""
    return infer_persist_schema_core(
        path, schema_store,
        infer=lambda sample: spark.read.json(sample).schema,
        glob="**/*.json", sample_files=sample_files, evolve=evolve,
        suffixes=(".json", ".jsonl", ".json.gz", ".jsonl.gz", ".ndjson"))


def read_json_batch(spark: "SparkSession", path: str | Path) -> "DataFrame":
    """S2 — full batch read of a landing path (degenerate of S1)."""
    return spark.read.json(str(path))


def read_json_stream(spark: "SparkSession", path: str | Path,
                     schema_store: str | Path,
                     evolve: bool = False) -> "DataFrame":
    """S1 — incremental exactly-once JSON file stream (schema inferred
    once then fixed).  Pair with a checkpointed sink
    (streaming/runner.py) for the full Auto-Loader-equivalent path."""
    schema = infer_and_persist_schema(spark, path, schema_store, evolve=evolve)
    return spark.readStream.schema(schema).json(str(path))
