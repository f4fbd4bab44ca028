"""Open-loop event-file generator for the ``stream`` workload.

Runs as its own process so its schedule never slows when Spark slows:
file ``k`` of a rung is due at ``start + k * interval`` and is written
as soon as it is due, however far behind the stream is. Each file is
written under a hidden name (which the file source skips) and renamed
into place. Events carry ``ts`` = the file's creation time, so a
result's latency can be measured against it.

    python3 perfbench/streamgen.py --dir D --seed 1 --start 1790000000.0 \\
        --interval 0.1 --ladder 2000:10,20000:10 --log D.log

One JSON line per file goes to ``--log``: file name, due time, creation
time (epoch seconds), rows and rung rate. The ``events`` schema is the
one ``streaming.pipeline.events_stream`` reads.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = pa.array(["click", "error", "purchase", "signup", "view"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def write_file(out_dir: str, name: str, rng: np.random.Generator, first_id: int, rows: int) -> float:
    """Write one events file (hidden, then renamed); return its creation
    time in epoch seconds, which is also every event's ``ts``."""
    created = time.time()
    table = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
        "ts": pa.array(np.full(rows, int(created * 1e6), dtype="int64")).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, rows), pa.int64()),
        "event_type": EVENT_TYPES.take(rng.integers(0, len(EVENT_TYPES), rows)),
        "value": np.round(rng.exponential(50.0, rows), 2) + 0.01,
        "props": PROPS.take(rng.integers(0, len(PROPS), rows)),
    }, schema=SCHEMA)
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name))
    return created


def parse_ladder(spec: str) -> list[tuple[int, float]]:
    """``"2000:10,20000:10"`` -> [(events/s, seconds), ...]"""
    return [(int(r), float(s)) for r, s in (part.split(":") for part in spec.split(","))]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True, help="epoch seconds of the first due time")
    p.add_argument("--interval", type=float, required=True, help="seconds between files")
    p.add_argument("--ladder", required=True, help="rate:seconds,...")
    p.add_argument("--first-id", type=int, default=0)
    p.add_argument("--log", required=True)
    args = p.parse_args()

    rng = np.random.default_rng(args.seed)
    next_id = args.first_id
    due = args.start
    k = 0
    with open(args.log, "w") as log:
        for rate, seconds in parse_ladder(args.ladder):
            rows = max(int(rate * args.interval), 1)
            for _ in range(round(seconds / args.interval)):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"part-{k:06d}.parquet"
                created = write_file(args.dir, name, rng, next_id, rows)
                log.write(json.dumps({"file": name, "due": due, "created": created,
                                      "rows": rows, "rate": rate}) + "\n")
                next_id += rows
                due += args.interval
                k += 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
