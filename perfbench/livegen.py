"""Open-loop event generator for the ``stream_live`` workload.

A single-threaded process that writes one parquet file per tick into a
source directory, on a fixed schedule that does not slow when the engine
slows. Each event carries ``gen_ms``, the wall-clock time (epoch ms) at
which its tick was due, so latency counts any wait the generator itself
imposed. Symbols are Zipf-skewed; a share of events carries an event time
up to ``OOO_MS`` earlier than its creation (out of order, but within the
jobs' watermark delay, so no event is dropped).

This module owns the shape of the live traffic; ``live.py`` starts it as
a process and passes only the rate (``live.RATE``). The symbol count, skew
and out-of-order share are fixed parameters of this synthetic stream, not
measured from a real feed: 64 market-data-style symbols (the
``symbol``/``price`` shape of the market-data fixtures in ``FIXTURES.md``),
a Zipf exponent of 1.1 so a handful of symbols carry most events and most
of the agg job's state updates, and one event in five late by up to 0.8 s,
which keeps a late event inside the 2 s watermark delay with a margin of
more than one second.

The first file is written at once, so the jobs can be deployed against
the source; the schedule starts when the ``--go`` file appears. Files are
written under a hidden name and renamed into place, so a file stream never
lists a partial file. One JSON line per file goes to
``--log``: name, due and done times, rows and how late the tick ran. The
process runs until it is stopped (at most ``MAX_SECONDS``).

    python3 livegen.py --out DIR --log FILE --go FILE --seed 1 --rate 5000
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_MS = 100        # one source file per tick
N_SYMBOLS = 64
ZIPF_S = 1.1
OOO_SHARE = 0.2      # share of events that arrive out of order
OOO_MS = 800         # how far out of order, below the watermark delay
MAX_SECONDS = 600    # a safety stop; a run stops the generator long before


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--go", required=True, help="start the schedule once this file exists")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="events per second")
    args = ap.parse_args(argv)

    rng = np.random.default_rng([args.seed, 7])
    weights = 1.0 / np.arange(1, N_SYMBOLS + 1) ** ZIPF_S
    weights /= weights.sum()
    symbols = np.array([f"S{i:02d}" for i in range(N_SYMBOLS)])
    per_tick = max(1, args.rate * TICK_MS // 1000)
    n_ticks = MAX_SECONDS * 1000 // TICK_MS
    os.makedirs(args.out, exist_ok=True)
    t0_ms = int(time.time() * 1000)
    with open(args.log, "w") as log:
        for k in range(n_ticks + 1):
            if k == 1:
                give_up = time.time() + 300
                while not os.path.exists(args.go):
                    if time.time() > give_up:
                        return 1
                    time.sleep(0.005)
                t0_ms = int(time.time() * 1000) - TICK_MS
            due_ms = t0_ms + k * TICK_MS
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            ooo = np.where(
                rng.random(per_tick) < OOO_SHARE,
                rng.integers(0, OOO_MS, per_tick), 0,
            )
            table = pa.table({
                "symbol": pa.array(symbols[rng.choice(N_SYMBOLS, per_tick, p=weights)]),
                "px": pa.array(rng.integers(1000, 100000, per_tick), pa.int64()),
                "qty": pa.array(rng.integers(1, 100, per_tick), pa.int64()),
                "event_ts": pa.array((due_ms - ooo) * 1000, pa.timestamp("us")),
                "gen_ms": pa.array(np.full(per_tick, due_ms), pa.int64()),
            })
            name = f"tick-{k:06d}.parquet"
            tmp = os.path.join(args.out, f".{name}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(args.out, name))
            done_ms = time.time() * 1000
            log.write(json.dumps({
                "file": name, "due_ms": due_ms, "done_ms": round(done_ms, 3),
                "rows": per_tick, "late_ms": round(done_ms - due_ms, 3),
            }) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
