"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import duckdb
import pyarrow as pa
import pytest

import datagen
import iotgen
import verify
import workloads
from spans import Tracer, self_times, tail, tail_index, union_length


# -- tail-percentile rule ----------------------------------------------------

def test_tail_index_leaves_ten_samples_beyond():
    for n in (11, 24, 40, 100):
        i = tail_index(n)
        assert n - 1 - i == 10


def test_tail_of_hundred_samples_is_p90_with_count():
    value, pct, n = tail([float(x) for x in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)


def test_tail_of_24_samples_and_order_independence():
    vals = [float(x) for x in range(24)]
    value, pct, n = tail(list(reversed(vals)))
    assert value == 13.0 and n == 24
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_with_too_few_samples_is_the_max():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


# -- span self-time arithmetic -----------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        (0, "op", "bench", 0.0, 10.0, None, "q"),
        (1, "a", "queries", 1.0, 4.0, 0, "q"),
        (2, "b", "spark", 2.0, 3.0, 1, "q"),
        # two children of the op that overlap (a thread-pool wave)
        (3, "c", "engine", 5.0, 8.0, 0, "q"),
        (4, "d", "engine", 6.0, 9.0, 0, "q"),
    ]
    st = self_times(spans)
    assert st[2] == 1.0
    assert st[1] == 2.0
    assert st[0] == pytest.approx(10 - 3 - 4)   # [1,4] and [5,9]
    assert st[3] == 3.0 and st[4] == 3.0


def test_tracer_nests_and_attributes_pool_threads_to_the_op():
    import threading
    tr = Tracer(True)
    with tr.op("q#0", "bench.query"):
        with tr.span("inner", "queries"):
            pass
        t = threading.Thread(target=lambda: tr.end(tr.begin("w", "engine")))
        t.start()
        t.join()
    by_name = {s[1]: s for s in tr.spans}
    root = by_name["bench.query"][0]
    assert by_name["inner"][5] == root
    assert by_name["w"][5] == root          # empty thread stack → op root
    assert all(s[6] == "q#0" for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.op("x", "bench"):
        with tr.span("y", "queries"):
            tr.count("k")
    assert tr.spans == [] and not tr.counts


# -- generators are byte-identical per seed ----------------------------------

def test_iot_files_are_byte_identical_per_seed_and_offset_by_it():
    a = iotgen.render(iotgen.events(1_000_000, 3, 50))
    b = iotgen.render(iotgen.events(1_000_000, 3, 50))
    c = iotgen.render(iotgen.events(2_000_000, 3, 50))
    assert a == b and a != c
    first = json.loads(a.splitlines()[0])
    assert first["event_idx"] == 1_000_000 + 3 * 50


def test_lake_tables_are_identical_per_seed(tmp_path):
    t1 = datagen.build_tables(7, 0.001)
    t2 = datagen.build_tables(7, 0.001)
    t3 = datagen.build_tables(8, 0.001)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])
    assert set(t1) == set(verify.TABLES)


# -- rename on land ----------------------------------------------------------

def test_land_writes_hidden_then_renames(tmp_path, monkeypatch):
    seen = []
    real = os.replace

    def spy(src, dst):
        # at rename time the payload is complete under the hidden name
        # and nothing is visible under the final name yet
        seen.append((os.path.basename(src), os.path.exists(dst),
                     os.path.getsize(src)))
        real(src, dst)
    monkeypatch.setattr(iotgen.os, "replace", spy)
    payload = iotgen.render(iotgen.events(0, 0, 10))
    final = iotgen.land(tmp_path, 0, payload)
    (hidden, existed, size), = seen
    assert hidden.startswith("_") and not hidden.endswith(".json")
    assert not existed and size == len(payload)
    assert final.read_bytes() == payload
    assert workloads.landed(tmp_path) == {final.name}


def test_half_written_file_is_not_listed(tmp_path):
    (tmp_path / "_events-000001.json.inprogress").write_text("{")
    assert workloads.landed(tmp_path) == set()


# -- attribution of landed files to refreshes --------------------------------

def _source_log(tmp_path, batches: dict[str, list[str]]):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    for fname, files in batches.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///land/{f}",
                                      "timestamp": 0, "batchId": 0})
                          for f in files]
        (log / fname).write_text("\n".join(lines) + "\n")
    (log / ".1.crc").write_text("x")
    return tmp_path


def test_source_log_lists_files_of_every_batch_and_compaction(tmp_path):
    cp = _source_log(tmp_path, {"0": ["events-000000.json"],
                                "1": ["events-000001.json",
                                      "events-000002.json"],
                                "9.compact": ["events-000000.json",
                                              "events-000003.json"]})
    assert workloads.source_log_files(cp) == {
        f"events-00000{i}.json" for i in range(4)}


def test_file_is_attributed_to_the_refresh_that_ingested_it():
    refreshes = [
        {"files": [iotgen.file_name(0)], "end": 5.0, "check_failures": []},
        {"files": [iotgen.file_name(1), iotgen.file_name(2)], "end": 9.0,
         "check_failures": []},
    ]
    lat, failed = workloads.attribute(refreshes, {1: 4.0, 2: 4.5}, 3, [])
    assert lat == [5.0, 4.5] and failed == 0


def test_uningested_or_unchecked_files_fail():
    refreshes = [{"files": [iotgen.file_name(0)], "end": 5.0,
                  "check_failures": ["unique__gold.dim_date__date"]}]
    lat, failed = workloads.attribute(refreshes, {0: 1.0, 1: 1.5}, 2, [])
    assert failed == 2 and lat == [4.0]


# -- a deliberately wrong result counts as failed ----------------------------

class FakeFrame:
    """The slice of a Spark DataFrame that ``Oracle.check`` reads."""

    def __init__(self, tbl: pa.Table, dtypes: list[tuple[str, str]]):
        self.tbl, self.dtypes = tbl, dtypes
        self.columns = tbl.column_names

    def toArrow(self):
        return self.tbl


SQL = "SELECT * FROM (VALUES (1::BIGINT, 2.5::DOUBLE), (2, 3.5)) t(k, v)"


def test_oracle_accepts_the_right_result():
    oracle = verify.Oracle(duckdb.connect(), SQL)
    right = pa.table({"v": [3.5, 2.5], "k": [2, 1]})
    problems, n = oracle.check(FakeFrame(right, [("v", "double"),
                                                 ("k", "bigint")]))
    assert problems == [] and n == 2


@pytest.mark.parametrize("tbl,dtypes", [
    (pa.table({"k": [1, 2], "v": [2.5, 3.5000001]}),
     [("k", "bigint"), ("v", "double")]),
    (pa.table({"k": [1, 2, 2], "v": [2.5, 3.5, 3.5]}),
     [("k", "bigint"), ("v", "double")]),
    (pa.table({"k": pa.array([1, 2], pa.int32()), "v": [2.5, 3.5]}),
     [("k", "int"), ("v", "double")]),
])
def test_oracle_flags_a_wrong_result(tbl, dtypes):
    oracle = verify.Oracle(duckdb.connect(), SQL)
    problems, _ = oracle.check(FakeFrame(tbl, dtypes))
    assert problems


def test_wrong_gold_fact_fails_every_file():
    rows = iotgen.events(0, 0, 40) + iotgen.events(0, 1, 40)
    kept, fact = verify.iot_expected(rows)
    assert verify.iot_problems(kept, sorted(fact), rows) == []
    bad = sorted(fact)
    bad[0] = bad[0][:-1] + (bad[0][-1] + 1.0,)
    problems = verify.iot_problems(kept, bad, rows)
    assert problems
    refreshes = [{"files": [iotgen.file_name(0), iotgen.file_name(1)],
                  "end": 2.0, "check_failures": []}]
    assert workloads.attribute(refreshes, {}, 2, problems)[1] == 2


def test_silver_loss_or_duplicates_are_flagged():
    rows = iotgen.events(0, 0, 40)
    kept, fact = verify.iot_expected(rows)
    for n in (kept - 1, kept + 1):
        assert verify.iot_problems(n, sorted(fact), rows)
    assert all(isinstance(r[-1], datetime) for r in rows)


# -- BENCHMARK.json agrees with what run.py prints ----------------------------

def test_benchmark_json_matches_the_runner():
    import run
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_cpu_since_survives_a_worker_exiting():
    import run
    tck = os.sysconf("SC_CLK_TCK")
    # pid 2 exited between the marks; pid 3 started
    assert run.cpu_since({1: 5, 2: 10}, {1: 7, 3: 4}) == 6 / tck
