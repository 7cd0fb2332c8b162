"""Traced mode: install span wrappers around each layer's public entry
points, from the benchmark's own files (the program is not changed).

Layers are named after the package modules:

- ``sources``    json_source's public functions (schema inference, reads)
- ``streaming``  streaming.runner (triggered runs, streaming tables)
- ``engine``     ``Engine.run``, ``Engine.test`` and each ``Check.run``
- ``operators``  every public function of every ``operators`` module
- ``functions``  every public function of every ``functions`` module
- ``stagecache`` ``stage_once`` / ``scratch_dir`` (builds vs hits counted)
- ``spark``      the pyspark calls that block on the cluster: actions,
                 writes, schema-inferring reads, streaming waits

The ``queries`` layer (query construction) and ``bench`` (the operation
itself) are spanned by the workload loops directly.
"""

from __future__ import annotations

import importlib
import pkgutil

from spans import PKG, Tracer, rebind, wrap, wrap_method, wrap_module_functions


class SparkJobs:
    """Jobs, stages and tasks per operation, read from the public
    ``SparkContext.statusTracker()``.  Job ids are sequential, so the
    jobs an operation ran are the ids that appeared since the last
    poll."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_id = 0
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        self.poll()
        self.totals = dict.fromkeys(self.totals, 0)

    def poll(self) -> None:
        while True:
            job = self.tracker.getJobInfo(self.next_id)
            if job is None:
                return
            self.next_id += 1
            self.totals["jobs"] += 1
            for sid in job.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:          # skipped stage: never ran
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += st.numTasks
                self.totals["failed_tasks"] += st.numFailedTasks


def _progress_field(p, key):
    return p[key] if isinstance(p, dict) else getattr(p, key)


def stream_progress(tracer: Tracer):
    """Callback for the query ``run_stream_available_now`` returns:
    counts its micro-batches, input rows, ``addBatch`` and trigger
    time from ``recentProgress``."""
    def record(query) -> None:
        for p in query.recentProgress:
            rows = _progress_field(p, "numInputRows")
            dur = _progress_field(p, "durationMs") or {}
            if rows:
                tracer.count("streaming.batches")
                tracer.count("streaming.input_rows", rows)
            tracer.count("streaming.add_batch_s",
                         dur.get("addBatch", 0) / 1000.0)
            tracer.count("streaming.trigger_s",
                         dur.get("triggerExecution", 0) / 1000.0)
    return record


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point named in the module docstring."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
    from pyspark.sql.streaming.query import StreamingQuery

    for sub in ("operators", "functions"):
        parent = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(parent.__path__):
            mod = importlib.import_module(f"{PKG}.{sub}.{info.name}")
            wrap_module_functions(tracer, mod, sub)

    from iot_simulator_datalake_spark import stagecache
    from iot_simulator_datalake_spark.engine.checks import Check
    from iot_simulator_datalake_spark.engine.runner import Engine
    from iot_simulator_datalake_spark.sources import json_source
    from iot_simulator_datalake_spark.streaming import runner

    for name in ("infer_and_persist_schema", "read_json_stream",
                 "read_json_batch"):
        fn = getattr(json_source, name)
        rebind(fn, wrap(tracer, fn, f"sources.{name}", "sources"))
    rebind(runner.run_stream_available_now,
           wrap(tracer, runner.run_stream_available_now,
                "streaming.run_stream_available_now", "streaming",
                on_return=stream_progress(tracer)))
    rebind(runner.materialize_streaming_table,
           wrap(tracer, runner.materialize_streaming_table,
                "streaming.materialize_streaming_table", "streaming"))
    wrap_method(tracer, Engine, "run", "engine.run", "engine")
    wrap_method(tracer, Engine, "test", "engine.test", "engine")
    wrap_method(tracer, Check, "run", "engine.check", "engine")

    orig_stage = stagecache.stage_once

    def stage_once(sf_dir, table, tag, build, *args, **kwargs):
        def counted_build(d):
            tracer.count("stagecache.builds")
            with tracer.span("stagecache.build", "stagecache"):
                return build(d)
        tracer.count("stagecache.lookups")
        return orig_stage(sf_dir, table, tag, counted_build, *args, **kwargs)
    rebind(orig_stage, wrap(tracer, stage_once, "stagecache.stage_once",
                            "stagecache"))
    rebind(stagecache.scratch_dir,
           wrap(tracer, stagecache.scratch_dir, "stagecache.scratch_dir",
                "stagecache"))

    for cls, names in ((DataFrame, ("collect", "count", "toArrow",
                                    "toPandas", "toLocalIterator")),
                       (DataFrameWriter, ("save", "parquet", "json",
                                          "saveAsTable", "insertInto")),
                       (DataFrameReader, ("parquet", "json", "load")),
                       (StreamingQuery, ("awaitTermination",))):
        for n in names:
            wrap_method(tracer, cls, n, f"spark.{cls.__name__}.{n}", "spark")
