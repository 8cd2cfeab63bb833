"""Open-loop EGV generator: one process, one thread.

Renders every payload from the seed before the schedule starts, then
lands one parquet file per tick, on a schedule that does not slow down
when the consumer does, like a producer that flushes what was created
during each tick. Records' ``created_ms`` spread evenly over the tick
before their file was due. Prints one JSON line at the end: every file
with when it was due and when it landed.

Usage: python3 egv_gen.py --out DIR --seed N --ticks N --rows N --tick-ms N
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import egv_data


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    a = ap.parse_args()

    keys, values = egv_data.render(a.seed, a.ticks * a.rows)
    tables = [
        egv_data.table(keys[i * a.rows:(i + 1) * a.rows], values[i * a.rows:(i + 1) * a.rows], 0)
        for i in range(a.ticks)
    ]
    t0 = int(time.time() * 1000) + 300
    files = []
    for i, tbl in enumerate(tables):
        due = t0 + i * a.tick_ms
        delay = due / 1000.0 - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"tick-{i:05d}"
        egv_data.land(egv_data.stamped(tbl, due, a.tick_ms), a.out, name)
        files.append({"name": f"{name}.parquet", "due_ms": due, "landed_ms": time.time() * 1000, "rows": tbl.num_rows})
    print(json.dumps({"t0_ms": t0, "tick_ms": a.tick_ms, "files": files}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
