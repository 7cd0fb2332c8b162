"""Generic file-format landing sources: CSV, ORC, Parquet, and plain
text, batch and streaming.

The reference's only landing format is JSON (``read_files(path,
format => 'json')``, bronze_iot_events.sql:10-15) — but Databricks
``read_files`` accepts ``format => csv|orc|parquet|text|json`` with the
same semantics, so a user switching to this engine keeps every format.
The streaming paths reuse the infer-once-persist schema discipline of
``json_source.py`` (the OSS Auto Loader substitute, SURVEY §1.2):
OSS ``readStream`` needs an explicit schema for CSV, so we infer from a
bounded sample, persist, and replay the stored contract on re-runs.

Scale notes: schema inference samples ≤ ``sample_files`` files, never
the full landing volume; CSV parsing is JVM-side (UnivocityParser under
whole-stage codegen) — no Python in the row path; ORC/Parquet streams
carry their own schema, so no inference pass is needed at all.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

#: enforceSchema=false makes Spark VALIDATE csv headers against the
#: user schema instead of applying it positionally — essential once
#: schemas can evolve: an evolved contract appends new fields at the
#: END (by-name merge), so a positional read of a producer file whose
#: header orders columns differently would silently transpose values
#: between columns.  With validation, the mismatch fails loudly.
_CSV_OPTS = {"header": "true", "enforceSchema": "false"}


def infer_csv_schema(spark: "SparkSession", path: str | Path,
                     schema_store: str | Path,
                     sample_files: int = 64,
                     options: dict[str, str] | None = None,
                     evolve: bool = False) -> T.StructType:
    """Infer a CSV schema from a bounded file sample and persist it;
    re-runs return the stored contract verbatim.  Delegates to the
    JSON source's :func:`~.json_source.infer_persist_schema_core` so
    the store-check / sample / ST6 ``evolve`` semantics are one
    implementation, not two drifting copies (previously CSV silently
    lacked schema evolution)."""
    from .json_source import infer_persist_schema_core

    opts = {**_CSV_OPTS, "inferSchema": "true", **(options or {})}
    return infer_persist_schema_core(
        path, schema_store,
        infer=lambda sample: spark.read.options(**opts).csv(sample).schema,
        glob="**/*.csv", sample_files=sample_files, evolve=evolve,
        suffixes=(".csv", ".csv.gz", ".tsv", ".tsv.gz"))


def read_csv_batch(spark: "SparkSession", path: str | Path,
                   schema: T.StructType | None = None,
                   options: dict[str, str] | None = None) -> "DataFrame":
    """Batch CSV scan; with an explicit schema the inference pass is
    skipped entirely (the 100 TB default — always pass the contract)."""
    opts = {**_CSV_OPTS, **(options or {})}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(str(path))


def read_csv_stream(spark: "SparkSession", path: str | Path,
                    schema_store: str | Path,
                    options: dict[str, str] | None = None,
                    evolve: bool = False) -> "DataFrame":
    """Incremental exactly-once CSV file stream (schema inferred once
    then fixed; ``evolve`` re-samples and widens the stored contract
    by name, exactly like ``read_json_stream`` — the flag previously
    existed only on the shared core, leaving the CSV helper without
    the ST6 path its JSON twin exposes) — pair with
    streaming/runner.py's checkpointed sink."""
    schema = infer_csv_schema(spark, path, schema_store, options=options,
                              evolve=evolve)
    return (spark.readStream.schema(schema)
            .options(**{**_CSV_OPTS, **(options or {})}).csv(str(path)))


def read_file_batch(spark: "SparkSession", path: str | Path,
                    fmt: str) -> "DataFrame":
    """Self-describing columnar formats (parquet/orc) — no inference."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"use read_csv_batch/read_json_batch for {fmt!r}")
    return spark.read.format(fmt).load(str(path))


def read_file_stream(spark: "SparkSession", path: str | Path, fmt: str,
                     schema: T.StructType | None = None) -> "DataFrame":
    """Streaming scan of parquet/orc landing dirs.  Structured
    Streaming still wants a fixed schema: by default we snapshot it
    from the existing files (one footer read, not a data scan)."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"use read_csv_stream/read_json_stream for {fmt!r}")
    schema = schema or spark.read.format(fmt).load(str(path)).schema
    return spark.readStream.schema(schema).format(fmt).load(str(path))


def read_text_batch(spark: "SparkSession", path: str | Path,
                    whole_file: bool = False) -> "DataFrame":
    """Raw text corpus scan: one row per line, or per file
    (``whole_file`` — the document-ingest shape for LLM corpora)."""
    return spark.read.text(str(path), wholetext=whole_file)
