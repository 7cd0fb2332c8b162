"""Replica-scale core-count scaling ledger (VERDICT r11 #2).

The driver's `scaling` block compares 8-core vs 32-core bench times at
sf0.1, where every query is sub-second and dominated by fixed
planning/scheduling overhead — the ratio is ≈1 for everything and the
block cannot distinguish "parallelises fine" from "serial".  This tool
produces the scale where cores matter: it runs the UNMODIFIED bench.py
(same queries, same actions, same median-of-3) on a ×N replica
(tools/replica.py) at SPARK_GRAFT_CPUS ∈ {8, 32}, cross-process (the
master is fixed at context creation), and writes a ledger JSON with
the per-query core-ratio t8/t32 plus each run's calibration, loadavg
and steal so a contended window is visible in the artifact.

Usage: python tools/scaling_ledger.py REPLICA_DIR OUT_JSON [cpus ...]
e.g.:  python tools/scaling_ledger.py /tmp/x10 SCALING_r12.json 8 32
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_bench(sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=str(cpus))
    s0, t0 = steal_jiffies(), time.monotonic()
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")], env=env,
        capture_output=True, text=True, check=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise SystemExit(
            f"bench.py at SPARK_GRAFT_CPUS={cpus} printed no JSON line; "
            f"stderr tail:\n{out.stderr[-2000:]}")
    parsed = json.loads(lines[-1])
    parsed["_cpus"] = cpus
    parsed["_wall_sec"] = round(time.monotonic() - t0, 1)
    parsed["_steal_jiffies"] = steal_jiffies() - s0
    return parsed


def main(argv: list[str]) -> int:
    sf_dir, out_path = argv[0], argv[1]
    cpus_list = [int(c) for c in argv[2:]] or [8, 32]
    runs = {c: run_bench(sf_dir, c) for c in cpus_list}
    lo, hi = min(cpus_list), max(cpus_list)
    t_lo, t_hi = runs[lo]["queries"], runs[hi]["queries"]
    # a query timed at 0 s (or missing from one run) has no ratio:
    # list it instead of dividing by it
    zero = sorted(q for q in t_hi if not t_lo.get(q) or not t_hi[q])
    ratios = {q: round(t_lo[q] / t_hi[q], 2)
              for q in t_hi if q not in zero}
    ledger = {
        "replica_dir": sf_dir,
        "cpus": cpus_list,
        "ratio_low_over_high": ratios,
        "zero_time_queries": zero,
        "total_sec": {c: runs[c]["value"] for c in cpus_list},
        "runs": runs,
    }
    Path(out_path).write_text(json.dumps(ledger, indent=1))
    for q, r in sorted(ratios.items(), key=lambda kv: kv[1]):
        print(f"{q:32s} t{lo}/t{hi} = {r:5.2f} "
              f"({t_lo[q]:.2f}s / {t_hi[q]:.2f}s)")
    for q in zero:
        print(f"{q:32s} skipped: zero time "
              f"({t_lo.get(q)}s / {t_hi[q]}s)")
    total = (f"{runs[lo]['value'] / runs[hi]['value']:.2f}"
             if runs[hi]["value"] else "n/a")
    print(f"totals: t{lo}={runs[lo]['value']}s t{hi}={runs[hi]['value']}s "
          f"ratio={total}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
