"""Open-loop IoT event generator: lands JSON event files on a fixed
schedule, independent of how fast the pipeline ingests them.

File ``k`` holds events ``base + k*per_file .. base + (k+1)*per_file - 1``
from the package's md5-deterministic ``sources.simulator.gen_event``,
one JSON object per line, so the same ``(base, k, per_file)`` always
gives byte-identical files.  Each file is written under a
``_``-prefixed name (the streaming file source and the schema sampler
skip it) and renamed into place once complete, so a reader never sees
a half-written file.

Run as a script, it lands files ``first .. first+files-1``, file ``k``
due at ``t0 + (k-first)*interval`` on the host's monotonic clock, and
writes one JSON line per file (``k``, ``due``, ``landed``, ``events``,
``bytes``) to ``--log``.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime
from pathlib import Path

START = datetime(2024, 1, 1)
N_DEVICES = 100
FIELDS = ("event_idx", "device_id", "location_id", "sensor_type", "value",
          "unit", "quality_flag", "timestamp")


def events(base: int, k: int, per_file: int) -> list[tuple]:
    from iot_simulator_datalake_spark.sources.simulator import gen_event
    lo = base + k * per_file
    return [gen_event(i, N_DEVICES, START) for i in range(lo, lo + per_file)]


def render(rows: list[tuple]) -> bytes:
    out = []
    for r in rows:
        d = dict(zip(FIELDS, r))
        d["timestamp"] = d["timestamp"].strftime("%Y-%m-%d %H:%M:%S")
        out.append(json.dumps(d, separators=(",", ":")))
    return ("\n".join(out) + "\n").encode()


def file_name(k: int) -> str:
    return f"events-{k:06d}.json"


def land(landing: Path, k: int, payload: bytes) -> Path:
    """Write under a hidden name, then rename into place atomically."""
    final = landing / file_name(k)
    tmp = landing / f"_{final.name}.inprogress"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, final)
    return final


def land_now(landing: Path, base: int, ks, per_file: int) -> int:
    """Land files ``ks`` immediately; returns the bytes landed."""
    total = 0
    for k in ks:
        payload = render(events(base, k, per_file))
        land(landing, k, payload)
        total += len(payload)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--landing", required=True)
    ap.add_argument("--base", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    landing = Path(a.landing)
    log = []
    for j in range(a.files):
        k = a.first + j
        # render ahead of the due time so lateness measures landing only
        payload = render(events(a.base, k, a.per_file))
        due = a.t0 + j * a.interval
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        land(landing, k, payload)
        log.append({"k": k, "due": due, "landed": time.monotonic(),
                    "events": a.per_file, "bytes": len(payload)})
    Path(a.log).write_text("\n".join(json.dumps(r) for r in log) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
