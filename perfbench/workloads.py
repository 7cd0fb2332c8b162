"""The benchmark's workloads.

- ``iot_ingest`` (open loop): a generator process lands JSON event
  files at a fixed rate while the benchmark runs back-to-back triggered
  refreshes of the streaming medallion pipeline, each followed by the
  reference data-quality checks; then a backlog lands at once and one
  refresh drains it.
- ``lake_queries`` / ``llm_curation`` (closed loop, one client): passes
  over a fixed query mix in a seeded order, each query built fresh and
  executed with the production action.

Every workload returns the same end-to-end figures (see ``summarize``)
plus a ``detail`` dict of context and per-layer figures.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
from pathlib import Path

import datagen
import iotgen
import verify
from spans import median, tail

#: the read-only analytic path: relational bench queries and TPC-H
#: silhouettes (joins, aggregates, windows, operators/hints)
LAKE_MIX = (
    "fact_avg_by_nation_month", "hourly_rollup", "customer_scorecard",
    "threshold_theta_join", "cdc_latest_wins", "sessionization",
    "window_running_total", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_volume",
    "tpch_q6_forecast_revenue", "normalized_in_filter")
#: LLM curation: quality filters (functions/text), MinHash dedup
#: (operators/dedup), brute-force similarity (operators/similarity,
#: functions/vector) and BM25 over a staged postings index (stagecache)
LLM_MIX = (
    "text_quality_score", "gopher_quality_rules",
    "similarity_topk_bruteforce", "bm25_from_postings",
    "dedup_minhash_lsh_capped")
MIXES = {"lake_queries": LAKE_MIX, "llm_curation": LLM_MIX}

#: scale factor of the generated lake (lineitem ≈ 6e6 × SF rows)
SF = 0.01
#: expected wall of one warm pass, seconds: a run makes
#: round(--seconds / this) passes, so the sample count (and with it the
#: tail percentile) is the same on every commit
NOMINAL_PASS_S = {"lake_queries": 3.0, "llm_curation": 1.2}

#: open-loop generator: one file of PER_FILE events every INTERVAL_S
#: (~800 events/s), well below what one refresh cycle sustains
INTERVAL_S = 0.25
PER_FILE = 200
SETUP_FILES = 4
BACKLOG_FILES = 20
#: a generator later than this makes the run invalid, not slow
LATENESS_BOUND_S = 1.0


class Invalid(RuntimeError):
    """The run's own conditions were broken (not the program's fault)."""


def du(path: Path) -> int:
    """Bytes of regular files under ``path`` (links not followed)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def summarize(latencies, passes, pass_cpu, setup_s, throughput,
              storage) -> dict:
    """The end-to-end figures every workload reports.  A pass is one
    cycle of the workload's loop: a pass over the query mix, or one
    refresh with its checks."""
    value, pct, n = tail(latencies)
    return {"setup_s": setup_s,
            "cpu_s_per_pass": median(pass_cpu),
            "storage_bytes_per_input_byte": storage,
            "detail": {"latency": {"latency_p50_s": median(latencies),
                                   "latency_tail_s": value,
                                   "pass_s": median(passes),
                                   "throughput_per_s": throughput},
                       "latency_tail": {"percentile": pct, "samples": n}}}


def _error(e: Exception) -> list[str]:
    return [f"{type(e).__name__}: {str(e)[:200]}"]


def count_is_faithful(df) -> bool:
    """True iff ``count()`` executes every join of the full output plan
    (Catalyst prunes unique-key joins whose columns nobody reads)."""
    def joins(d):
        return d._jdf.queryExecution().optimizedPlan().toString().count(
            "Join")
    return joins(df.groupBy().count()) >= joins(df)


# -- closed-loop query workloads ---------------------------------------------

def query_workload(ctx, name: str) -> dict:
    from iot_simulator_datalake_spark.actions import full_mat
    from iot_simulator_datalake_spark.queries import REGISTRY

    spark, tr, mix = ctx.spark, ctx.tracer, MIXES[name]
    lake = ctx.run_dir / "lake"
    t0 = time.monotonic()
    input_bytes = datagen.write_tables(lake, ctx.seed, SF)
    t1 = time.monotonic()
    con = verify.duck_lake(str(lake))
    oracles = {n: verify.Oracle(con, REGISTRY[n].oracle)
               for n in mix if REGISTRY[n].oracle}
    con.close()
    phases = {"datagen_s": t1 - t0, "oracle_s": time.monotonic() - t1}

    # set-up: one untimed pass with the production action pays JIT,
    # codegen, stage-cache builds and memo fills
    full, wrong, setup_per_query = set(), {}, {}
    setup_s = 0.0
    for n in mix:
        t0 = time.monotonic()
        with tr.op(f"setup:{n}", "bench.setup"):
            try:
                df = REGISTRY[n].fn(spark, str(lake))
                if not count_is_faithful(df):
                    full.add(n)
                full_mat(df) if n in full else df.count()
            except Exception as e:  # noqa: BLE001 - counted as failed
                wrong[n] = _error(e)
        setup_per_query[n] = time.monotonic() - t0
        setup_s += setup_per_query[n]

    # correctness (untimed): every result against its oracle twin.  Run
    # before the timed passes it doubles as a second warm-up, so the
    # window measures a settled JIT; a timed run whose row count differs
    # from the verified one fails
    rows = {}
    for n in mix:
        try:
            df = REGISTRY[n].fn(spark, str(lake))
            if n in oracles:
                problems, rows[n] = oracles[n].check(df)
            else:
                problems, rows[n] = [], full_mat(df)
        except Exception as e:  # noqa: BLE001 - counted as failed
            problems = _error(e)
        if problems:
            wrong.setdefault(n, problems)

    rng = random.Random(ctx.seed)
    n_passes = max(1, round(ctx.seconds / NOMINAL_PASS_S[name]))
    lat: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in mix}
    build_s = exec_s = 0.0
    passes, pass_cpu, failed, attempted = [], [], 0, 0
    ctx.window_start()
    for p in range(n_passes):
        order = list(mix)
        rng.shuffle(order)
        tp, cpu0 = time.monotonic(), ctx.cpu_mark()
        for n in order:
            attempted += 1
            t0 = time.monotonic()
            ok = False
            with tr.op(f"{n}#{p}", "bench.query"):
                try:
                    with tr.span(f"queries.{n}", "queries"):
                        df = REGISTRY[n].fn(spark, str(lake))
                    t1 = time.monotonic()
                    got = full_mat(df) if n in full else df.count()
                    ok = n not in wrong and got == rows.get(n)
                    build_s += t1 - t0
                    exec_s += time.monotonic() - t1
                except Exception as e:  # noqa: BLE001 - counted as failed
                    wrong.setdefault(n, _error(e))
            dt = time.monotonic() - t0
            ctx.after_op()
            failed += not ok
            lat.append(dt)
            per_query[n].append(dt)
        passes.append(time.monotonic() - tp)
        pass_cpu.append(ctx.cpu_since(cpu0))
    ctx.window_end()

    derived = du(ctx.tmp_dir)
    out = summarize(lat, passes, pass_cpu, setup_s, attempted / sum(passes),
                    (input_bytes + derived) / input_bytes)
    out.update(attempted=attempted, failed=failed)
    out["detail"].update({
        "mix": list(mix), "passes": n_passes, "sf": SF, **phases,
        "input_bytes": input_bytes, "derived_bytes": derived,
        "full_mat_queries": sorted(full), "wrong": wrong,
        "queries.build_s": build_s, "queries.exec_s": exec_s,
        "queries.latency_s": {n: median(v) for n, v in per_query.items()},
        "pass_walls_s": passes, "setup_per_query_s": setup_per_query})
    return out


# -- open-loop ingest workload -----------------------------------------------

def source_log_files(checkpoint: Path) -> set[str]:
    """File names the bronze stream has planned into a batch, read from
    its checkpoint's file-source log (``sources/0``: a ``v1`` header,
    then one JSON entry per file; ``N.compact`` files repeat all
    earlier entries)."""
    names = set()
    log = checkpoint / "sources" / "0"
    if not log.is_dir():
        return names
    for f in log.iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                names.add(json.loads(line)["path"].rsplit("/", 1)[-1])
    return names


def landed(landing: Path) -> set[str]:
    return {p.name for p in landing.iterdir()
            if not p.name.startswith(("_", "."))}


def attribute(refreshes: list[dict], due: dict[int, float], n_files: int,
              problems: list[str]) -> tuple[list[float], int]:
    """(latencies, failed files).  A file belongs to the refresh whose
    source-log entries first named it; its latency runs from its due
    time to the end of that refresh's checks (open-loop files only,
    the ones in ``due``).  A file fails if no refresh ingested it, if
    that refresh's checks failed, or if the lake's contents are wrong
    (``problems``)."""
    ingested_at = {f: r for r in refreshes for f in r["files"]}
    lat, failed = [], 0
    for k in range(n_files):
        r = ingested_at.get(iotgen.file_name(k))
        failed += bool(r is None or r["check_failures"] or problems)
        if r is not None and k in due:
            lat.append(r["end"] - due[k])
    return lat, failed


def version_dirs(warehouse: Path) -> int:
    """Superseded ``<table>.v-*`` dirs (not the target of a table link)."""
    n = 0
    for link in warehouse.rglob("*"):
        if ".v-" in link.name and link.is_dir() and not link.is_symlink():
            table = link.parent / link.name.split(".v-")[0]
            if not (table.is_symlink() and os.readlink(table) == link.name):
                n += 1
    return n


def iot_workload(ctx) -> dict:
    from iot_simulator_datalake_spark.engine import Engine
    from iot_simulator_datalake_spark.pipeline import build_registry
    from iot_simulator_datalake_spark.pipeline.iot_models import (
        attach_reference_checks)

    spark, tr = ctx.spark, ctx.tracer
    landing, wh = ctx.run_dir / "landing", ctx.run_dir / "warehouse"
    landing.mkdir(parents=True)
    checkpoint = wh / "_checkpoints" / "bronze.iot_events"
    base = ctx.seed * 1_000_000
    n_open = max(1, round(ctx.seconds / INTERVAL_S))
    first_open, first_backlog = SETUP_FILES, SETUP_FILES + n_open
    input_bytes = iotgen.land_now(landing, base, range(SETUP_FILES),
                                  PER_FILE)

    eng = Engine(spark, build_registry(streaming=True),
                 config={"iot_events_path": str(landing),
                         "warehouse": str(wh),
                         "schema_store": str(wh / "_schemas" / "bronze.json")},
                 warehouse=wh)
    attach_reference_checks(eng)
    refreshes: list[dict] = []
    seen: set[str] = set()

    def refresh(tag: str) -> dict:
        t0, cpu0 = time.monotonic(), ctx.cpu_mark()
        lag = len(landed(landing) - seen)
        with tr.op(tag, "bench.refresh"):
            res = eng.run()
            t1 = time.monotonic()
            checks = eng.test()
        t2 = time.monotonic()
        ctx.after_op()
        new = source_log_files(checkpoint) - seen
        seen.update(new)
        r = {"tag": tag, "start": t0, "end": t2, "run_s": t1 - t0,
             "cpu_s": ctx.cpu_since(cpu0),
             "test_s": t2 - t1, "lag_files": lag, "files": sorted(new),
             "model_s": dict(res.seconds), "checks": len(checks),
             "check_failures": [c.name for c in checks if not c.passed]}
        refreshes.append(r)
        return r

    t0 = time.monotonic()
    refresh("setup")
    setup_s = time.monotonic() - t0

    # open loop: the generator's clock starts 0.5 s ahead so its own
    # start-up is not counted as lateness
    gen_log = ctx.run_dir / "gen.jsonl"
    t_gen = time.monotonic() + 0.5
    env = dict(os.environ, PYTHONPATH=str(ctx.root))
    gen = subprocess.Popen(
        [sys.executable, str(Path(iotgen.__file__).resolve()),
         "--landing", str(landing), "--base", str(base),
         "--first", str(first_open), "--files", str(n_open),
         "--per-file", str(PER_FILE), "--interval", str(INTERVAL_S),
         "--t0", repr(t_gen), "--log", str(gen_log)], env=env)
    ctx.cpu_exclude.add(gen.pid)
    try:
        time.sleep(max(0.0, t_gen - time.monotonic()))
        ctx.window_start()
        stalls = 0
        while True:
            done = gen.poll() is not None
            pending = landed(landing) - seen
            if done and not pending:
                break
            r = refresh(f"refresh{len(refreshes)}")
            stalls = stalls + 1 if done and not r["files"] else 0
            if stalls >= 3:            # landed files the stream never takes
                break
        ctx.window_end()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise Invalid(f"generator exited with {gen.returncode}")
    gen_rows = [json.loads(x) for x in gen_log.read_text().splitlines()]
    lateness = [g["landed"] - g["due"] for g in gen_rows]
    if max(lateness) > LATENESS_BOUND_S:
        raise Invalid(f"generator ran {max(lateness):.3f}s late "
                      f"(bound {LATENESS_BOUND_S}s)")
    input_bytes += sum(g["bytes"] for g in gen_rows)
    open_refreshes = [r for r in refreshes if r["tag"] != "setup"]

    # backlog drain: land everything at once, time the refresh
    input_bytes += iotgen.land_now(
        landing, base, range(first_backlog, first_backlog + BACKLOG_FILES),
        PER_FILE)
    drain = refresh("drain")
    drain_events = PER_FILE * len(drain["files"])

    # correctness (untimed): exactly-once silver, gold vs recomputation
    n_files = first_backlog + BACKLOG_FILES
    events = [e for k in range(n_files)
              for e in iotgen.events(base, k, PER_FILE)]
    problems = verify.iot_check(eng, events)

    due = {g["k"]: g["due"] for g in gen_rows}
    lat, failed = attribute(refreshes, due, n_files, problems)

    warehouse_bytes = du(wh)
    out = summarize(lat or [float("inf")],
                    [r["run_s"] + r["test_s"] for r in open_refreshes],
                    [r["cpu_s"] for r in open_refreshes],
                    setup_s, drain_events / drain["run_s"],
                    (input_bytes + warehouse_bytes) / input_bytes)
    model_names = sorted({m for r in open_refreshes for m in r["model_s"]})
    out.update(attempted=n_files, failed=failed)
    out["detail"].update({
        "rate_events_per_s": PER_FILE / INTERVAL_S,
        "interval_s": INTERVAL_S, "per_file": PER_FILE,
        "open_loop_files": n_open, "backlog_files": BACKLOG_FILES,
        "refreshes": len(open_refreshes), "problems": problems,
        "check_failures": sum(len(r["check_failures"]) for r in refreshes),
        "checks": sum(r["checks"] for r in refreshes),
        "gen.lateness_s": {"p50": median(lateness), "max": max(lateness)},
        "gen.files": len(gen_rows),
        "gen.events": sum(g["events"] for g in gen_rows),
        "sources.lag_files": median([r["lag_files"]
                                     for r in open_refreshes]),
        "engine.run_s": median([r["run_s"] for r in open_refreshes]),
        "engine.test_s": median([r["test_s"] for r in open_refreshes]),
        "engine.model_s": {m: median([r["model_s"].get(m, 0.0)
                                      for r in open_refreshes])
                           for m in model_names},
        "engine.overlap_s": median([sum(r["model_s"].values()) - r["run_s"]
                                    for r in open_refreshes]),
        "engine.version_dirs": version_dirs(wh),
        "engine.warehouse_bytes": warehouse_bytes,
        "drain": {"files": len(drain["files"]), "run_s": drain["run_s"],
                  "events": drain_events},
        "input_bytes": input_bytes})
    return out


def run(ctx, name: str) -> dict:
    if name == "iot_ingest":
        return iot_workload(ctx)
    return query_workload(ctx, name)

