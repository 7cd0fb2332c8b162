"""Unit tests for tools/scaling_ledger.py's failure handling.  No Spark:
bench.py runs are faked."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import scaling_ledger as sl  # noqa: E402


def test_no_json_line_fails_with_a_message(monkeypatch):
    def fake_run(*args, **kwargs):
        return subprocess.CompletedProcess(
            args, 0, stdout="warming up\n", stderr="Traceback: boom")
    monkeypatch.setattr(sl.subprocess, "run", fake_run)
    with pytest.raises(SystemExit, match="(?s)no JSON line.*boom"):
        sl.run_bench("/nowhere", 8)


def test_zero_time_queries_are_skipped_and_flagged(monkeypatch, tmp_path,
                                                   capsys):
    runs = {8: {"value": 3.0, "queries": {"a": 2.0, "b": 0.0, "c": 1.0}},
            32: {"value": 1.5, "queries": {"a": 1.0, "b": 0.5, "c": 0.0}}}
    monkeypatch.setattr(sl, "run_bench", lambda sf, cpus: runs[cpus])
    out = tmp_path / "ledger.json"
    assert sl.main(["/nowhere", str(out), "8", "32"]) == 0
    ledger = json.loads(out.read_text())
    assert ledger["ratio_low_over_high"] == {"a": 2.0}
    assert ledger["zero_time_queries"] == ["b", "c"]
    assert "skipped: zero time" in capsys.readouterr().out
