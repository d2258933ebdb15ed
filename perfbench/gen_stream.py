"""Load generator for the ``stream_regions`` workload: one process, one thread.

Writes parquet files of ``events`` rows (the schema of the fixture table)
into ``ROOT/events.parquet/``, each one first into ``ROOT/incoming/`` and
then renamed into place, so a reader never sees a partial file.

- ``open`` mode: writes one priming file at once, waits for the ``--go``
  file, then runs an open loop: file ``i`` is due ``i / rate`` seconds
  after the go signal and is written as soon as it is due, whatever the
  reader does. A JSON manifest lists each file's due time and the time its
  rename finished.
- ``backlog`` mode: writes ``--files`` files as fast as it can, for a
  reader to drain later.

File contents depend only on the seed, the mode and the file index: every
event in a file carries the file's due time on a virtual clock as ``ts``,
so the same seed always gives the same bytes.

    python3 perfbench/gen_stream.py open ROOT --seed 7 --rate 70 --events 30 \
        --seconds 18 --go ROOT/go --manifest ROOT/manifest.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Virtual-clock origin of each phase, in epoch microseconds.
_BASE_US = {"open": 1_709_251_200_000_000, "backlog": 1_709_337_600_000_000}  # 2024-03-01, 03-02
_BACKLOG_STEP_S = 0.1


def file_table(seed: int, phase: int, index: int, n_events: int, ts_us: int, first_id: int) -> pa.Table:
    rng = np.random.default_rng([seed, phase, index])
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n_events), pa.int64()),
            "ts": pa.array(np.full(n_events, ts_us, np.int64)).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def _put(root: str, name: str, table: pa.Table) -> None:
    tmp = os.path.join(root, "incoming", name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(root, "events.parquet", name))


def _prepare(root: str) -> None:
    os.makedirs(os.path.join(root, "incoming"), exist_ok=True)
    os.makedirs(os.path.join(root, "events.parquet"), exist_ok=True)


def run_open(root: str, seed: int, rate: float, n_events: int, seconds: float, go: str, manifest: str) -> None:
    _prepare(root)
    n_files = int(round(rate * seconds))
    step_us = 1e6 / rate
    # File 0 primes the reader (its schema is sniffed from the first file);
    # files 1..n run on the schedule. Tables are built before the go signal
    # so the loop only writes.
    tables = [
        file_table(seed, 0, i, n_events, int(_BASE_US["open"] + i * step_us), i * n_events)
        for i in range(n_files + 1)
    ]
    t_prime = time.time()
    _put(root, "f000000.parquet", tables[0])
    files = [["f000000.parquet", t_prime, time.time()]]
    while not os.path.exists(go):
        time.sleep(0.005)
    t0 = time.time()
    for i in range(1, n_files + 1):
        due = t0 + (i - 1) / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"f{i:06d}.parquet"
        _put(root, name, tables[i])
        files.append([name, due, time.time()])
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"t0": t0, "rate": rate, "events_per_file": n_events, "files": files}, f)
    os.rename(tmp, manifest)


def run_backlog(root: str, seed: int, n_files: int, n_events: int, phase: int) -> None:
    _prepare(root)
    base = _BASE_US["backlog"] + phase * 86_400_000_000
    for i in range(n_files):
        ts = int(base + i * _BACKLOG_STEP_S * 1e6)
        _put(root, f"b{i:06d}.parquet", file_table(seed, phase, i, n_events, ts, (phase * 10_000 + i) * n_events))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["open", "backlog"])
    ap.add_argument("root")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, required=True, help="events per file")
    ap.add_argument("--rate", type=float, help="open: files per second")
    ap.add_argument("--seconds", type=float, help="open: length of the schedule")
    ap.add_argument("--go", help="open: start the schedule once this file exists")
    ap.add_argument("--manifest", help="open: where to write the manifest")
    ap.add_argument("--files", type=int, help="backlog: number of files")
    ap.add_argument("--phase", type=int, default=1, help="backlog: distinct id/ts range per backlog")
    a = ap.parse_args()
    if a.mode == "open":
        run_open(a.root, a.seed, a.rate, a.events, a.seconds, a.go, a.manifest)
    else:
        run_backlog(a.root, a.seed, a.files, a.events, a.phase)


if __name__ == "__main__":
    main()
