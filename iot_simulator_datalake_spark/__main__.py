"""CLI: ``python -m iot_simulator_datalake_spark run|test|docs|lineage|
optimize`` — run/test mirror the reference job's two steps (``dbt run``
then ``dbt test``, resources/jobs.yml:30-33; O5 in SURVEY §2.10) and
append their events to ``<warehouse>/_event_log/events.jsonl``;
docs/lineage expose the catalog + impact-analysis relations (the dbt
docs analog); optimize compacts / clusters / z-orders a table dir."""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="iot_simulator_datalake_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("run", "test"):
        s = sub.add_parser(name)
        s.add_argument("--landing", default="/tmp/iot_landing",
                       help="JSON landing directory (iot_events_path var)")
        s.add_argument("--warehouse", default="/tmp/iot_lake_warehouse")
        s.add_argument("--batch", action="store_true",
                       help="batch bronze/silver instead of streaming")
        s.add_argument("--project", default=None, metavar="DIR",
                       help="run a dbt-SQL project instead of the "
                            "built-in Python pipeline: DIR must hold "
                            "models/<layer>/**/*.sql (+ optional "
                            "tests/*.sql and yml generic tests)")
        s.add_argument("--select", nargs="*", default=None,
                       help="model selectors (dbt graph operators: "
                            "name, +name, name+)")
        s.add_argument("--atomic", action="store_true",
                       help="all-or-nothing publish of the whole run")
    sd = sub.add_parser("docs",
                        help="print the model catalog (dbt-docs analog)")
    sd.add_argument("--json", default=None, metavar="FILE",
                    help="also write a docs manifest JSON (the dbt "
                         "docs generate artifact) for the built-in "
                         "pipeline registry")
    sub.add_parser("lineage", help="print the transitive lineage closure")
    so = sub.add_parser("optimize",
                        help="compact / cluster / z-order a parquet dir")
    so.add_argument("path")
    so.add_argument("--cluster-by", nargs="*", default=[],
                    help="range-cluster columns (1) or z-order (2+)")
    so.add_argument("--stats", nargs="*", default=[],
                    help="build a skipping manifest for these columns")
    so.add_argument("--bloom", nargs="*", default=[],
                    help="add bloom bitmaps for these columns")
    args = p.parse_args(argv)

    if args.cmd in ("docs", "lineage"):
        from .queries_pipeline import _catalog_rows, _lineage_edges
        if args.cmd == "docs":
            for dag, model, layer, mat, n_deps, deps in _catalog_rows():
                print(f"  [{dag}] {model:30s} {layer:8s} {mat:16s} "
                      f"deps={deps or '-'}")
            if args.json:
                import json as _json
                from .engine import Engine
                from .pipeline import build_registry
                from .session import get_spark
                eng = Engine(get_spark("iot-lake-docs"),
                             build_registry(streaming=False))
                with open(args.json, "w") as fh:
                    _json.dump(eng.docs_manifest(), fh, indent=1)
                print(f"  manifest written to {args.json}")
        else:
            for up, down in _lineage_edges():
                print(f"  {up} -> {down}")
        return 0

    if args.cmd == "optimize":
        from .engine import maintenance, skipping
        from .session import get_spark
        spark = get_spark("iot-lake-optimize")
        try:
            if len(args.cluster_by) == 1:
                n = maintenance.cluster(spark, args.path, args.cluster_by)
                print(f"  clustered on {args.cluster_by[0]}: {n} files")
            elif len(args.cluster_by) >= 2:
                n = maintenance.zorder(spark, args.path, args.cluster_by)
                print(f"  z-ordered on {args.cluster_by}: {n} files")
            else:
                n = maintenance.compact(spark, args.path)
                print(f"  compacted: {n} files")
        except ValueError as e:     # e.g. a streaming table's dir
            print(f"optimize: {e}", file=sys.stderr)
            return 2
        if args.stats:
            n = skipping.build_stats_manifest(args.path, args.stats)
            print(f"  stats manifest: {n} files indexed")
        if args.bloom:
            n = skipping.build_bloom_manifest(args.path, args.bloom)
            print(f"  bloom manifest: {n} files indexed")
        return 0

    from .engine import Engine
    from .engine.eventlog import attach_event_log
    from .pipeline import attach_reference_checks, build_registry
    from .session import get_spark

    if args.project:
        from .engine.sqlproject import load_sql_project, load_sql_tests
        registry = load_sql_project(
            f"{args.project}/models",
            config_vars={"iot_events_path": args.landing})
    else:
        registry = build_registry(streaming=not args.batch)
    try:
        registry.toposort(args.select)
    except ValueError as e:     # e.g. a mistyped --select
        print(f"{args.cmd}: {e}", file=sys.stderr)
        return 2
    eng = Engine(get_spark("iot-lake-cli"), registry,
                 config={"iot_events_path": args.landing},
                 warehouse=args.warehouse)
    log = attach_event_log(
        eng, eng.warehouse / "_event_log" / "events.jsonl")
    print(f"  event log: {log.path}")
    result = eng.run(select=args.select, atomic_publish=args.atomic)
    for qn in result.materialized:
        print(f"  materialized {qn} [{result.seconds[qn]:.2f}s]")
    if args.cmd == "test":
        if args.project:
            load_sql_tests(args.project, eng)
        else:
            attach_reference_checks(eng)
        failures = 0
        for res in eng.test():
            status = "PASS" if res.passed else f"FAIL ({res.violations})"
            print(f"  {res.name}: {status}")
            failures += 0 if res.passed else 1
        return 1 if failures else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
